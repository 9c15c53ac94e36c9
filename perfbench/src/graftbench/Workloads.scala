package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAlgos.mix64
import graft.gen.TranscriptGen
import graft.gen.TranscriptGen.Rng
import graft.schema.Turn

/** The benchmark's seeded inputs. Every conversation is a pure function
  * of (seed, conversation index), assembled from TranscriptGen
  * conversations, so one seed always yields the same rows whatever the
  * partitioning. graft itself only ever sees the written parquet.
  */
object Workloads {

  /** Size of one workload's corpus. `skewMaxTurns` is the giant-
    * conversation threshold handed to graft (0 = no skew split). */
  final case class Shape(convs: Long, giants: Int, skewMaxTurns: Int)

  val Names: Seq[String] = Seq("conv_heavy", "text_heavy")

  /** Full-size corpora; `smoke` shrinks them to seconds of work. */
  def shape(workload: String, smoke: Boolean): Shape = (workload, smoke) match {
    case ("conv_heavy", false) => Shape(convs = 1300, giants = 4, skewMaxTurns = 2000)
    case ("conv_heavy", true) => Shape(convs = 300, giants = 2, skewMaxTurns = 200)
    case ("text_heavy", false) => Shape(convs = 700, giants = 0, skewMaxTurns = 0)
    case ("text_heavy", true) => Shape(convs = 300, giants = 0, skewMaxTurns = 0)
    case (w, _) => throw new IllegalArgumentException(
      s"unknown workload '$w' (expected ${Names.mkString("|")})")
  }

  /** Write the workload's corpus as `files` parquet files under `path`. */
  def write(spark: SparkSession, workload: String, shape: Shape, seed: Long,
            path: String, files: Int): Unit = {
    import spark.implicits._
    val base = spark.range(0L, shape.convs, 1L, files)
    val ds: Dataset[Turn] = workload match {
      case "conv_heavy" =>
        // giants sit at evenly spaced indices so they land in different files
        val every = math.max(1L, shape.convs / math.max(1, shape.giants))
        val giantTurns = shape.skewMaxTurns
        base.flatMap(i => convHeavy(seed, i,
          if (shape.giants > 0 && i % every == 0 && i / every < shape.giants)
            giantTurns + giantTurns / 2 else 0))
      case "text_heavy" => base.flatMap(i => textHeavy(seed, i))
    }
    ds.write.mode("overwrite").parquet(path)
  }

  private def rngFor(seed: Long, i: Long, salt: Long): Rng =
    new Rng(mix64(seed ^ mix64(i * 0x9e3779b97f4a7c15L + salt)))

  /** Prefix of `s` ending with its `n`-th space-separated word (leading
    * and inner whitespace pollution kept). */
  private def firstWords(s: String, n: Int): String = {
    if (s == null) return null
    var i = 0
    var words = 0
    while (i < s.length) {
      if (s.charAt(i) != ' ' && (i == 0 || s.charAt(i - 1) == ' ')) words += 1
      if (words == n && s.charAt(i) != ' ' && (i + 1 == s.length || s.charAt(i + 1) == ' '))
        return s.substring(0, i + 1)
      i += 1
    }
    s
  }

  /** conv_heavy: tens of turns of a few words each. TranscriptGen
    * conversations are chained under one conv_id (turn indices and
    * timestamps continue across the seams, so each segment's gaps,
    * regressions and duplicates survive) and every text is cut to its
    * first 1-6 words. `giantTurns > 0` builds one giant conversation.
    */
  def convHeavy(seed: Long, i: Long, giantTurns: Int): Seq[Turn] = {
    val r = rngFor(seed, i, 1L)
    val target = if (giantTurns > 0) giantTurns else 20 + r.nextInt(41)
    val segSeed = mix64(seed ^ (i + 0x5bd1e995L))
    val convId = f"h-$i%08d"
    val out = new scala.collection.mutable.ArrayBuffer[Turn](target)
    var k = 0L
    var offset = 0
    var lastTs = 1700000000000L + i * 7919000L
    while (out.length < target) {
      val seg = TranscriptGen.conv(segSeed, k, skewCap = 64)
      val shift = lastTs + 30000L - seg.head.ts.getTime
      val it = seg.iterator
      var lastIdx = offset - 1
      while (it.hasNext && out.length < target) {
        val t = it.next()
        lastIdx = offset + t.turn_idx
        lastTs = t.ts.getTime + shift
        out += Turn(convId, lastIdx, t.role, firstWords(t.text, 1 + r.nextInt(6)),
          t.tool, new Timestamp(lastTs))
      }
      offset = lastIdx + 1
      k += 1
    }
    out.toSeq
  }

  private val Emails = IndexedSeq("ana.lopez@example.com", "j.smith@mail.org",
    "ops-team@corp.io", "k99@test.net")
  private val NonAscii = IndexedSeq("café", "naïve", "Grüße", "señor", "déjà vu",
    "日本語のテキスト", "Ελληνικά", "привет мир", "emoji 😀 here", "ça va")
  private val Slurs = IndexedSeq("frakk", "gorram", "smeghead")
  private val Pollution = IndexedSeq("  ", "\t", "\n", " \n  ", "   \t ")

  /** text_heavy: 2-4 turns per conversation, each thousands of chars
    * (under RuleConfig.MaxLen after normalization). Prose is TranscriptGen
    * text; PII is dense (emails, phones, keys, slurs) and so are gate
    * decoys that fire a scrub gate without matching (a bare '@', a digit
    * run too short to be a phone). About half the turns are whitespace-
    * polluted and about a third carry non-ASCII text.
    */
  def textHeavy(seed: Long, i: Long): Seq[Turn] = {
    val r = rngFor(seed, i, 2L)
    val base = TranscriptGen.conv(mix64(seed ^ (i + 0x27d4eb2dL)), 0L, skewCap = 4)
    val nTurns = math.min(base.length, 2 + r.nextInt(3))
    val poolSeed = mix64(seed ^ (i + 0x165667b1L))
    var poolIdx = 0L
    var pool: Iterator[String] = Iterator.empty
    def fragment(): String = {
      var s: String = null
      while (s == null) {
        if (!pool.hasNext) {
          pool = TranscriptGen.conv(poolSeed, poolIdx, skewCap = 64).iterator
            .map(_.text).filter(t => t != null && t.length > 8 && t.length < 400)
          poolIdx += 1
        }
        if (pool.hasNext) s = pool.next()
      }
      s
    }
    base.take(nTurns).map { t =>
      val target = 1500 + r.nextInt(4500)
      val polluted = r.nextDouble() < 0.5
      val nonAscii = r.nextDouble() < 0.35
      val sb = new java.lang.StringBuilder(target + 256)
      if (polluted) sb.append("   ")
      while (sb.length < target) {
        if (sb.length > 3) sb.append(if (polluted && r.nextDouble() < 0.4) r.pick(Pollution) else " ")
        sb.append(fragment())
        val u = r.nextDouble()
        if (u < 0.07) sb.append(" mail ").append(r.pick(Emails))
        else if (u < 0.13) sb.append(" call +33 6 ").append(10 + r.nextInt(90))
          .append(' ').append(10 + r.nextInt(90)).append(' ').append(10 + r.nextInt(90))
        else if (u < 0.15) sb.append(" key sk-").append(java.lang.Long.toHexString(r.nextLong()))
          .append(java.lang.Long.toHexString(r.nextLong()))
        else if (u < 0.17) sb.append(" you ").append(r.pick(Slurs))
        else if (u < 0.22) sb.append(" meet @ noon")
        else if (u < 0.27) sb.append(" step ").append(10 + r.nextInt(90)).append(" ... ...")
        if (nonAscii && r.nextDouble() < 0.3) sb.append(' ').append(r.pick(NonAscii))
      }
      if (polluted) sb.append(" \n")
      t.copy(conv_id = f"t-$i%08d", text = sb.toString)
    }
  }

  /** Shape of a written corpus, recorded with every result so a later
    * run can show its inputs did not change. */
  def describe(spark: SparkSession, path: String, skewMaxTurns: Int): Map[String, Double] = {
    def flag(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val giant = lit(skewMaxTurns > 0) && col("n") > skewMaxTurns
    val r = spark.read.schema(Turn.schema).parquet(path)
      .groupBy("conv_id").agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        flag(col("text").rlike("[@0-9]")).as("gate"),
        flag(col("text").rlike("[^\\x00-\\x7F]")).as("non_ascii"))
      .agg(sum("n"), count(lit(1)), max("n"), flag(giant), sum(when(giant, col("n"))),
        sum("chars"), sum("gate"), sum("non_ascii")).head()
    def long(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getLong(i).toDouble
    val turns = long(0)
    Map(
      "turns" -> turns,
      "conversations" -> long(1),
      "mean_text_chars" -> long(5) / turns,
      "max_conv_turns" -> long(2),
      "giant_convs" -> long(3),
      "giant_turns" -> long(4),
      "gate_char_share" -> long(6) / turns,
      "non_ascii_share" -> long(7) / turns,
      "text_chars" -> long(5))
  }
}
