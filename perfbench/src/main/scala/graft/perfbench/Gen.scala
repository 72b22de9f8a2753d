package graft.perfbench

import java.time.Instant

/** One row of the `events` table: the schema graft's CDC adapter
  * (`CdcLogAdapter.fromEvents`) turns into a CDC log. */
final case class EventRow(event_id: Long, ts: Instant, user_id: Long,
    event_type: String, value: Double, props: String)

/** One row of the `documents` table read by `CorpusPipeline.run`. */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Parameters of a generated CDC log. Every value of event `id` is a
  * pure function of (seed, id), so a log is the same however it is
  * partitioned and whichever thread builds it.
  *
  * @param keys            distinct `user_id` values, drawn uniformly
  * @param typeWeights     `event_type` mix; the adapter maps it to the op mix
  *                        (view → insert, click → update, purchase → row
  *                        delete, signup → pre/post image, error → partition
  *                        and range deletes)
  * @param outOfOrderShare share of changes whose event time is pulled back
  * @param outOfOrderMaxUs how far back, at most
  * @param stepUs          event-time spacing of consecutive changes (the spread)
  * @param startUs         event time of change 0 */
final case class LogParams(keys: Long,
    typeWeights: Seq[(String, Double)], outOfOrderShare: Double,
    outOfOrderMaxUs: Long, stepUs: Long, startUs: Long)

object Gen {

  /** 2024-01-01T00:00:00Z, the first day of the sf test data. */
  val StartUs: Long = 1704067200000000L

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for (seed, id, salt). */
  def unit(seed: Long, id: Long, salt: Int): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ id) >>> 11) * (1.0 / (1L << 53))

  private def pick[A](weights: Seq[(A, Double)], u: Double): A = {
    val total = weights.map(_._2).sum
    var acc = 0.0
    weights.find { case (_, w) => acc += w / total; u < acc }.getOrElse(weights.last)._1
  }

  def event(p: LogParams, seed: Long, id: Long): EventRow = {
    val user = math.min(p.keys - 1, (unit(seed, id, 1) * p.keys).toLong)
    val late = unit(seed, id, 3) < p.outOfOrderShare
    val back = if (late) (unit(seed, id, 4) * p.outOfOrderMaxUs).toLong else 0L
    val tUs = p.startUs + id * p.stepUs - back
    EventRow(id, Instant.ofEpochSecond(Math.floorDiv(tUs, 1000000L),
        Math.floorMod(tUs, 1000000L) * 1000L), user,
      pick(p.typeWeights, unit(seed, id, 2)),
      math.round(unit(seed, id, 5) * 56000.0) / 100.0,
      s"""{"k": ${(unit(seed, id, 6) * 100).toInt}}""")
  }

  def events(p: LogParams, seed: Long, from: Long, until: Long): Array[EventRow] =
    Array.tabulate((until - from).toInt)(i => event(p, seed, from + i))

  // ------------------------------------------------------------ documents

  /** The words of the sf documents' bodies, drawn uniformly. */
  val Words: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  /** The word the sf generator appends to a near duplicate. */
  val DupWord = "dup"
  /** Every word of the sf documents: the vocabulary `tools/upscale.py`
    * rewrites with (the same 31 words in every language). */
  val Vocab: IndexedSeq[String] = (Words :+ DupWord).sorted
  /** The sf0.1 documents' language shares (2 059 en, 753 zh, 744 es,
    * 742 fr, 702 de of 5 000). */
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148, "de" -> 0.140)

  /** Parameters of a generated corpus.
    * @param baseDocs    documents in copy 0
    * @param copies      upscale factor (copies > 0 rewrite ~30% of words)
    * @param exactShare  share of base documents that repeat another's text
    * @param nearShare   share that repeat another's text plus [[DupWord]] */
  final case class DocParams(baseDocs: Int, copies: Int, exactShare: Double,
      nearShare: Double)

  /** The duplicate structure of sf0.1's 5 000 documents: 8 texts occur
    * twice, and 250 documents are another document's text with " dup"
    * appended. */
  def sfDocs(baseDocs: Int, copies: Int): DocParams =
    DocParams(baseDocs, copies, exactShare = 8 / 5000.0, nearShare = 250 / 5000.0)

  /** sf-shaped base documents, then `copies` copies by the rule of
    * `tools/upscale.py`. A base document `i` comes from source
    * `src{i % 20}` with a language drawn by [[Langs]]; its text is
    * 10-99 words drawn uniformly from [[Words]], or, with the shares of
    * `p`, an earlier document's text, verbatim or with " dup" appended
    * (language and source stay the document's own, as in sf0.1). Copy 0
    * is verbatim; copy c > 0 replaces a word with probability 0.3 by a
    * word of [[Vocab]] chosen by (word, c) only, so duplicate structure
    * inside each copy survives. */
  def documents(p: DocParams, seed: Long): Seq[DocRow] = {
    val base = new Array[String](p.baseDocs)
    for (i <- 0 until p.baseDocs) {
      val u = unit(seed, i, 10)
      def earlier = base((unit(seed, i, 11) * i).toInt)
      base(i) =
        if (i > 0 && u < p.exactShare) earlier
        else if (i > 0 && u < p.exactShare + p.nearShare) s"$earlier $DupWord"
        else {
          val n = 10 + (unit(seed, i, 14) * 90).toInt
          (0 until n).map(j => Words((unit(seed, i * 1000L + j, 15) * Words.size).toInt))
            .mkString(" ")
        }
    }
    for (c <- 0 until p.copies; i <- 0 until p.baseDocs) yield {
      val text = base(i)
      val out =
        if (c == 0) text
        else text.split(" ").map { w =>
          val h = mix(seed ^ (w.hashCode.toLong << 8) ^ c) >>> 1
          if (h % 100 < 30) Vocab(((h / 100) % Vocab.size).toInt) else w
        }.mkString(" ")
      DocRow(i + c.toLong * p.baseDocs, out, pick(Langs, unit(seed, i, 16)), s"src${i % 20}",
        out.length.toLong)
    }
  }
}
