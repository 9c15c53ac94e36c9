package graft.lm

import scala.collection.mutable

import graft.functions.TextAlgos.mix64

/** Char-trigram language model with add-k smoothing.
  *
  * Storage/runtime design (hot path = one call per char per model over
  * the whole corpus):
  *  - open-addressing hash tables (linear probing, power-of-2 capacity,
  *    key+1 stored so 0 = empty) instead of sorted-array binary search:
  *    ~1-2 probes instead of ~15 cache-missing comparisons;
  *  - ALL logarithms precomputed at TRAIN time (log numerators per
  *    gram, log denominators per context): the per-char work is two
  *    table probes and a subtraction — no StrictMath.log in the row
  *    path (StrictMath has no JIT intrinsic and costs ~100ns/call;
  *    determinism is preserved because the precomputed doubles are
  *    identical on every executor).
  *
  * This is the KenLM-style scorer of the north_star: per-row perplexity
  * given a broadcast model; also the building block of the fastText-
  * style language-ID ([[graft.lang.LangId]]) — one LM per language,
  * argmax avg log-prob. Bit-stable: fixed operation order, no
  * partition-order-dependent floats (SURVEY.md §7.5 #3).
  *
  * Text normalization: lowercase, digits → '0', whitespace → ' ',
  * chars above U+00FF → 'Ā' bucket.
  */
final class NGramLM private (
    gramKeys: Array[Long], gramLogNum: Array[Double],
    ctxKeys: Array[Long], ctxLogDen: Array[Double],
    gramMask: Int, ctxMask: Int,
    logNumUnseen: Double, logDenUnseen: Double,
    val vocabSize: Int, val k: Double
) extends Serializable {

  import NGramLM._

  @inline private def probe(keys: Array[Long], vals: Array[Double],
                            mask: Int, key: Long, default: Double): Double = {
    var i = (mix64(key) & mask).toInt
    while (true) {
      val stored = keys(i)
      if (stored == key + 1) return vals(i)
      if (stored == 0L) return default
      i = (i + 1) & mask
    }
    default // unreachable
  }

  // accessors for the fused multi-model table (TurnScorer): exact log
  // value for a key (per-model default when absent) + stored key sets
  private[lm] def gramLog(key: Long): Double =
    probe(gramKeys, gramLogNum, gramMask, key, logNumUnseen)
  private[lm] def ctxLog(key: Long): Double =
    probe(ctxKeys, ctxLogDen, ctxMask, key, logDenUnseen)
  private[lm] def gramKeySet: Iterator[Long] =
    gramKeys.iterator.filter(_ != 0L).map(_ - 1)
  private[lm] def ctxKeySet: Iterator[Long] =
    ctxKeys.iterator.filter(_ != 0L).map(_ - 1)

  /** Sum of log P(c | prev2) over the normalized text; 0 chars → 0.0. */
  def logProb(text: String): (Double, Int) = {
    if (text == null || text.isEmpty) return (0.0, 0)
    var c1 = Boundary
    var c2 = Boundary
    var lp = 0.0
    var i = 0
    while (i < text.length) {
      val c = norm(text.charAt(i))
      val ctx = (c1.toLong << 16) | c2.toLong
      val gram = (ctx << 16) | c.toLong
      lp += probe(gramKeys, gramLogNum, gramMask, gram, logNumUnseen) -
        probe(ctxKeys, ctxLogDen, ctxMask, ctx, logDenUnseen)
      c1 = c2
      c2 = c
      i += 1
    }
    (lp, text.length)
  }

  /** Char-level perplexity: exp(-avg log-prob). Empty text → 1.0. */
  def perplexity(text: String): Double = {
    val (lp, n) = logProb(text)
    if (n == 0) 1.0 else StrictMath.exp(-lp / n)
  }
}

object NGramLM {
  /** Sentinel context char for positions before the text start. */
  final val Boundary: Char = '\u0002'

  def norm(c0: Char): Char = {
    val c = Character.toLowerCase(c0)
    if (Character.isDigit(c)) '0'
    else if (Character.isWhitespace(c)) ' '
    else if (c > 'ÿ' && c != Boundary) 'Ā'
    else c
  }

  private def buildTable(m: mutable.LongMap[Double]): (Array[Long], Array[Double], Int) = {
    var cap = 16
    while (cap < m.size * 3) cap <<= 1
    val keys = new Array[Long](cap)
    val vals = new Array[Double](cap)
    val mask = cap - 1
    // deterministic insertion order (sorted keys) → deterministic layout
    val sorted = m.keys.toArray
    java.util.Arrays.sort(sorted)
    sorted.foreach { key =>
      var i = (mix64(key) & mask).toInt
      while (keys(i) != 0L) i = (i + 1) & mask
      keys(i) = key + 1
      vals(i) = m(key)
    }
    (keys, vals, mask)
  }

  private def build(grams: mutable.LongMap[Long], ctxs: mutable.LongMap[Long],
                    vocabSize: Int, k: Double): NGramLM = {
    // +1 for unseen chars (everything normalizes into a small alphabet)
    val v = math.max(vocabSize + 1, 2)
    val gramLogs = mutable.LongMap.empty[Double]
    grams.foreach { case (key, n) => gramLogs(key) = StrictMath.log(n + k) }
    val ctxLogs = mutable.LongMap.empty[Double]
    ctxs.foreach { case (key, n) => ctxLogs(key) = StrictMath.log(n + k * v) }
    val (gk, gv, gm) = buildTable(gramLogs)
    val (ck, cv, cm) = buildTable(ctxLogs)
    new NGramLM(gk, gv, ck, cv, gm, cm,
      StrictMath.log(k), StrictMath.log(k * v), v, k)
  }

  /** Train from corpus lines; k = add-k smoothing constant. */
  def train(lines: Seq[String], k: Double = 0.1): NGramLM = {
    val grams = new mutable.LongMap[Long]()
    val ctxs = new mutable.LongMap[Long]()
    val vocab = new mutable.HashSet[Char]()
    lines.foreach { line =>
      var c1 = Boundary
      var c2 = Boundary
      var i = 0
      while (i < line.length) {
        val c = norm(line.charAt(i))
        vocab += c
        val ctx = (c1.toLong << 16) | c2.toLong
        val gram = (ctx << 16) | c.toLong
        grams.update(gram, grams.getOrElse(gram, 0L) + 1)
        ctxs.update(ctx, ctxs.getOrElse(ctx, 0L) + 1)
        c1 = c2
        c2 = c
        i += 1
      }
    }
    build(grams, ctxs, vocab.size, k)
  }

  // tagged count keys for the distributed trainer: gram keys use 48
  // bits, so (key << 2) | kind fits a Long
  private final val KindGram = 0L
  private final val KindCtx = 1L
  private final val KindVocab = 2L

  /** Distributed training: per-partition LongMap pre-aggregation →
    * one (key, count) shuffle (map-side combined by the final groupBy)
    * → exact integer totals to the driver → IDENTICAL model to
    * [[train]] on the same lines (integer counts are order-independent;
    * the log tables are built on the driver exactly as in train).
    * Count cardinality is bounded by the normalized alphabet
    * (≤ ~260³ grams), not the corpus size.
    */
  def trainDistributed(ds: org.apache.spark.sql.Dataset[String], k: Double = 0.1): NGramLM = {
    val spark = ds.sparkSession
    import spark.implicits._
    val rows = ds.mapPartitions { it =>
      val m = new mutable.LongMap[Long]()
      it.foreach { line =>
        if (line != null) {
          var c1 = Boundary
          var c2 = Boundary
          var i = 0
          while (i < line.length) {
            val c = norm(line.charAt(i))
            val ctx = (c1.toLong << 16) | c2.toLong
            val gram = (ctx << 16) | c.toLong
            m.update((gram << 2) | KindGram, m.getOrElse((gram << 2) | KindGram, 0L) + 1)
            m.update((ctx << 2) | KindCtx, m.getOrElse((ctx << 2) | KindCtx, 0L) + 1)
            m.update((c.toLong << 2) | KindVocab, 1L)
            c1 = c2
            c2 = c
            i += 1
          }
        }
      }
      m.iterator
    }.toDF("tk", "n")
      .groupBy(org.apache.spark.sql.functions.col("tk"))
      .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n")).as("n"))
      .as[(Long, Long)]
      .collect()
    // the collected table is bounded by the NORMALIZED alphabet, not the
    // corpus: norm maps every char into ≤ ~260 symbols, so grams+ctxs ≤
    // 260³ + 260² and vocab ≤ 260. Hard guard in case norm is ever
    // widened without revisiting this driver-side materialization.
    require(rows.length <= (1 << 25),
      s"trigram count table has ${rows.length} rows — NGramLM.norm's " +
        "alphabet grew past the driver-materialization bound; shrink " +
        "norm or make the build distributed")
    val grams = mutable.LongMap.empty[Long]
    val ctxs = mutable.LongMap.empty[Long]
    var vocab = 0
    rows.foreach { case (tk, n) =>
      (tk & 3L) match {
        case KindGram => grams(tk >>> 2) = n
        case KindCtx => ctxs(tk >>> 2) = n
        case _ => vocab += 1
      }
    }
    build(grams, ctxs, vocab, k)
  }
}
