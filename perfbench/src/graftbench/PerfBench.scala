package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.SnapshotTable
import graft.oracle.OracleFilter
import graft.pipeline.{CheckpointedRun, QualityFilter}
import graft.rules.RuleConfig
import graft.schema.Turn
import org.apache.spark.sql.graftshim.ColumnShim.reExecute

/** graft's benchmark: one workload, one seed, one JVM.
  *
  *   graftbench.PerfBench --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --threads <n> --work <dir> [--smoke]
  *
  * Untraced (`--trace 0`) it times the workload's operations and prints
  * the end-to-end metrics; traced (`--trace 1`) it times cumulative
  * pipeline prefixes and a span-wrapped replay of the bucketed run and
  * prints the per-layer metrics. Both check the labels. The last stdout
  * line is the result JSON; the line before it is the run's context
  * (input shape, host, settings, checksums).
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        threads: Int, work: String, smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("threads").toInt, need("work"), args.contains("--smoke"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val b = new PerfBench(o)
    val (metrics, context) =
      try if (o.trace) b.traced() else b.untraced()
      finally b.stop()
    val ctx = context ++ b.commonContext
    println(Json.render(Json.obj(ctx.toSeq: _*)))
    println(Json.render(Json.obj(
      "correct" -> (b.failed == 0),
      "attempted" -> b.attempted,
      "failed" -> b.failed,
      "metrics" -> Json.RawObj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }))))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
  }
}

final class PerfBench(o: PerfBench.Opts) {
  import PerfBench._

  /** Shuffle, scan-split and default parallelism: fixed at every thread
    * count so the 1- and 4-thread runs have the same task layout. */
  private val Parts = 16
  private val InputFiles = 16
  private val shape = Workloads.shape(o.workload, o.smoke)
  private val inputPath = s"${o.work}/input"
  private val benchSetPath = s"${o.work}/evalset"
  private var spark: SparkSession = _

  var attempted = 0
  var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checksums = mutable.LinkedHashMap.empty[String, String]

  /** Count one operation or check; a throw or a false result fails it. */
  private def attempt[T](what: String)(f: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    val r = scala.util.Try(f)
    val good = r.toOption.exists(v => scala.util.Try(ok(v)).getOrElse(false))
    if (!good) {
      failed += 1
      failures += (what + r.failed.toOption.map(e => s": $e").getOrElse(""))
      r.failed.foreach(_.printStackTrace())
    }
    if (good) r.toOption else None
  }

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def session(threads: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Parts.toString)
      .config("spark.default.parallelism", Parts.toString)
      .config("spark.sql.files.minPartitionNum", Parts.toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    spark = s
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def input: Dataset[Turn] = {
    val s = spark
    import s.implicits._
    s.read.schema(Turn.schema).parquet(inputPath).as[Turn]
  }

  // ------------------------------------------------------------ workloads

  /** The labelling call each workload is judged by. */
  private def label(ds: Dataset[Turn]): DataFrame =
    if (o.workload == "text_heavy") QualityFilter.label(ds)
    else QualityFilter.label(ds, shape.skewMaxTurns)

  /** Order-independent checksum: row count, count of rows where `kept`
    * holds, and the sum of xxhash64 over `hashed`. */
  private def checksumCols(hashed: Seq[Column], kept: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(when(kept, 1L).otherwise(0L)).as("kept"),
    sum(xxhash64(hashed: _*).cast("decimal(38,0)")).as("h"))

  /** The labels' checksum, over the columns `Soak.checksum` hashes. */
  private val ChecksumCols = checksumCols(Seq(col("conv_id"), col("turn_idx"), col("keep"),
    concat_ws("|", col("drop_reasons")), col("scrubbed_text")), col("keep"))

  private def checksumOf(r: Row): String =
    s"${r.getLong(0)}:${r.getLong(1)}:${Option(r.getDecimal(2)).map(_.toBigInteger).getOrElse(0)}"

  private def observed(labeled: DataFrame): DataFrame =
    labeled.observe("graftbench_chk", ChecksumCols.head, ChecksumCols.tail: _*)

  /** Run a frame to completion, dropping every row once all its columns
    * are computed (the noop sink), and return the checksum observed on
    * that same execution. */
  private def drainChecked(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    checksumOf(df.queryExecution.observedMetrics("graftbench_chk"))
  }

  /** The labelling plan, analyzed once per session (for conv_heavy this
    * runs SkewSplit's eager giant census). */
  private var labelPlan: DataFrame = _

  /** Time one execution of the labelling plan. Each execution gets a
    * fresh QueryExecution of the same analyzed plan, so AQE reuses no
    * shuffle output while codegen and JIT stay warm. Its checksum must
    * match the session's first. */
  private def timedLabel(tag: String, ref: mutable.Map[String, String]): Option[Double] = {
    var sum: String = null
    attempt(s"label ($tag)")(secs { sum = drainChecked(reExecute(labelPlan)) }) { _ =>
      ref.getOrElseUpdate("label", sum) == sum
    }
  }

  /** The bucketed run of each workload. text_heavy runs the Soak `all`
    * configuration, as `pipeline.Main` would with every flag: metrics
    * root, skew split, more buckets than task threads, boilerplate, IQR
    * perplexity bounds and decontamination against an eval set drawn
    * from the corpus (its long texts are where decontamination and the
    * IQR persist have work). Conv near-dup is left off: with a metrics
    * root, `CheckpointedRun.run` throws on a corpus without an LSH
    * candidate pair (see README.md); its pass is timed in the traced
    * run. conv_heavy runs the default configuration with its skew
    * threshold, in two buckets, plus decontamination: the one opt-in
    * whose guard re-reads corpus-side content on every resume, so its
    * no-op resume does what ROADMAP item 4's corpus fingerprint must
    * keep cheap. */
  private def bucketed(metricsRoot: String): BucketedConfig =
    if (o.workload == "text_heavy")
      BucketedConfig(buckets = o.threads + 1, skewMaxTurns = TextHeavySkewMaxTurns,
        metricsRoot = Some(metricsRoot),
        boilerplate = Some(QualityFilter.BoilerplateConfig()),
        pplIqrK = Some(RuleConfig.PplIqrK),
        decontaminate = Some(QualityFilter.ContaminationConfig(benchPath = benchSetPath)))
    else BucketedConfig(buckets = 2, skewMaxTurns = shape.skewMaxTurns,
      metricsRoot = None, boilerplate = None, pplIqrK = None,
      decontaminate = Some(QualityFilter.ContaminationConfig(benchPath = benchSetPath)))

  /** Skew threshold of text_heavy's bucketed run: the split is on, as
    * in the Soak configuration, though no text_heavy conversation is
    * giant. */
  private val TextHeavySkewMaxTurns = 2000

  private def tableChecksum(root: String, buckets: Int): String =
    checksumOf(SnapshotTable(root, buckets).read(spark).agg(ChecksumCols.head, ChecksumCols.tail: _*).head())

  final case class Cycle(fresh: Double, resume: Double, noops: Seq[Double])

  /** Run `f` at least `min` times, then while `seconds` have not passed,
    * at most `max` times; keep the timings of the runs that passed. */
  private def repeat(min: Int, seconds: Double, max: Int)(f: => Option[Double]): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < min || (System.nanoTime() < end && n < max)) { out ++= f; n += 1 }
    out.toSeq
  }

  /** Fresh bucketed run; roll the data table back to the snapshot after
    * half its buckets and resume; then fully-committed no-op resumes for
    * about `noopSeconds`. The resumed table must equal the fresh one. */
  private def cycle(noopSeconds: Double): Option[Cycle] = {
    val root = s"${o.work}/table"
    val cfg = bucketed(s"${o.work}/metrics")
    val ds = input
    def timedRun(what: String)(ok: CheckpointedRun.RunResult => Boolean): Option[Double] =
      attempt(what) {
        val t0 = System.nanoTime()
        val r = cfg.run(ds, root)
        ((System.nanoTime() - t0) / 1e9, r)
      }(x => ok(x._2)).map(_._1)
    val table = SnapshotTable(root, cfg.buckets)
    for {
      fresh <- timedRun("bucketed fresh run")(_.bucketsComputed.size == cfg.buckets)
      freshSum <- attempt("fresh table checksum")(tableChecksum(root, cfg.buckets))(_ => true)
      _ <- attempt("roll back to half") {
        table.rollbackTo(table.snapshotHistory.find(v => table.bucketsAt(v).size == cfg.buckets / 2).get)
      }(_ => table.completedBuckets.size == cfg.buckets / 2)
      resume <- timedRun("half-torn resume")(_.bucketsComputed.size == cfg.buckets - cfg.buckets / 2)
      _ <- attempt("resumed table == fresh table")(tableChecksum(root, cfg.buckets))(_ == freshSum)
    } yield {
      checksums("bucketed_table") = freshSum
      // the first no-op resume is the path's cold start and is not counted
      val noops = repeat(4, noopSeconds, 2000)(timedRun("no-op resume")(_.bucketsComputed.isEmpty))
        .drop(1)
      Cycle(fresh, resume, noops)
    }
  }

  // ---------------------------------------------------------------- setup

  /** Session start + corpus generation + one warm-up labelling. */
  private def setupOnce(): Double = {
    val a = secs(session(o.threads))
    val b = secs {
      Workloads.write(spark, o.workload, shape, o.seed, inputPath, InputFiles)
      // the decontamination eval set, synthesized from the corpus as Soak does
      input.toDF().where(pmod(xxhash64(col("conv_id")), lit(997L)) === 0L)
        .select(col("text")).write.mode("overwrite").parquet(benchSetPath)
    }
    val c = secs {
      labelPlan = observed(label(input))
      drainChecked(reExecute(labelPlan))
    }
    setupParts += Seq(a, b, c)
    a + b + c
  }
  private val setupParts = mutable.ArrayBuffer.empty[Seq[Double]]

  private var inputShape: Map[String, Double] = Map.empty

  private def describeInput(): Unit =
    inputShape = Workloads.describe(spark, inputPath, shape.skewMaxTurns)

  // ------------------------------------------------------------- checks

  /** Labels of a deterministic conversation sample must equal the golden
    * OracleFilter's. The sample always holds the first giant conversation,
    * so the SkewSplit giant path is checked on every conv_heavy run. */
  private def oracleCheck(labeled: DataFrame): Unit = {
    val s = spark
    import s.implicits._
    attempt("oracle sample") {
      val hashed = input.select(col("conv_id")).distinct()
        .where(pmod(xxhash64(col("conv_id")), lit(97L)) === 0L)
        .orderBy(col("conv_id")).limit(40).as[String].collect().toSeq
      val giant =
        if (shape.skewMaxTurns <= 0) Nil
        else input.groupBy(col("conv_id")).count().where(col("count") > shape.skewMaxTurns)
          .orderBy(col("conv_id")).limit(1).select(col("conv_id")).as[String].collect().toSeq
      val ids = (giant ++ hashed).distinct
      val sample = input.where(col("conv_id").isin(ids: _*)).collect().toSeq
      val want = OracleFilter.run(sample).map(t =>
        (t.conv_id, t.turn_idx) -> (t.drop_reasons, t.scrubbed_text)).toMap
      val got = labeled.where(col("conv_id").isin(ids: _*))
        .select(col("conv_id"), col("turn_idx"), col("drop_reasons"), col("scrubbed_text"))
        .collect().map(r => (r.getString(0), r.getInt(1)) ->
          (r.getSeq[String](2), r.getString(3))).toMap
      (ids.size, want, got)
    } { case (n, want, got) =>
      n > 0 && want.nonEmpty && want == got &&
        (shape.giants == 0 || want.keys.groupBy(_._1).values.exists(_.size > shape.skewMaxTurns))
    }
  }

  /** Every run of one seed must label identically: the checksum is kept
    * per (workload, seed, corpus shape) in the work area's parent and compared
    * with every earlier run's. */
  private def crossRunCheck(): Unit = {
    val dir = Paths.get(o.work).getParent.resolve("checksums")
    Files.createDirectories(dir)
    checksums.foreach { case (what, sum) =>
      val size = f"${shape.hashCode}%08x"
      val f = dir.resolve(s"${o.workload}-${o.seed}-$size-$what.txt")
      attempt(s"checksum equals earlier runs ($what)") {
        if (Files.exists(f)) new String(Files.readAllBytes(f), UTF_8).trim
        else { Files.write(f, sum.getBytes(UTF_8)); sum }
      }(_ == sum)
    }
  }

  // ----------------------------------------------------------- untraced

  private var setupSamples: Seq[Double] = Nil
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def untraced(): (Seq[(String, (Double, String))], Map[String, Any]) = {
    // several complete set-ups; the median is setup_s
    setupSamples = (1 to 3).map(_ => setupOnce())
    describeInput()
    val turns = inputShape("turns")
    val budget = o.seconds.toDouble
    val ref = mutable.Map.empty[String, String]
    val peak = new Tracer(spark.sparkContext, "untraced")

    // the labelling call at full thread count
    val t4 = peak.span("label") {
      repeat(WarmExecutions + 4, budget * 0.5, 40)(timedLabel(s"${o.threads} threads", ref))
    }.drop(WarmExecutions)
    ref.get("label").foreach(checksums("label") = _)
    oracleCheck(label(input))

    // the bucketed run: fresh, half-torn resume, no-op resumes
    val cyc = cycle(noopSeconds = 1.0)
    peak.drain()
    val peakMb = peak.tasksIn(peak.spansNamed("label").flatMap(s => peak.subtree(s.id)).toSet)
      .map(_.peakMem).foldLeft(0L)(math.max) / 1048576.0
    peak.stop()
    crossRunCheck()

    samples ++= Seq("label_s" -> t4, "setup_s" -> setupSamples,
      "setup_parts_s" -> setupParts.flatten.toSeq, "fresh_s" -> cyc.map(_.fresh).toSeq,
      "resume_s" -> cyc.map(_.resume).toSeq, "noop_resume_s" -> cyc.toSeq.flatMap(_.noops))
    val metrics = Seq(
      "turns_per_s" -> (turns / median(t4), "1/s"),
      "peak_task_mem_mb" -> (peakMb, "MB"),
      "resume_s" -> (cyc.map(_.resume).getOrElse(Double.NaN), "s"),
      "noop_resume_s" -> (median(cyc.toSeq.flatMap(_.noops)), "s"),
      "setup_s" -> (median(setupSamples), "s"))
    (metrics, Map("mode" -> "untraced"))
  }

  /** Timed-phase executions that only warm the JIT and are not counted. */
  private val WarmExecutions = 1

  /** Untimed rounds over the traced prefixes before the timed ones: the
    * traced run sets up once, so its JIT is colder than the untraced run's. */
  private val WarmRounds = 2

  // ------------------------------------------------------------- traced

  def traced(): (Seq[(String, (Double, String))], Map[String, Any]) = {
    setupSamples = Seq(setupOnce())
    describeInput()
    val ref = mutable.Map.empty[String, String]
    val reps = 3
    val t = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}")
    val ds = input

    // cumulative prefixes: scan -> +score -> +exchange -> +windows/rules -> +scrub,
    // each analyzed once. They run in rounds, each prefix once per round:
    // `WarmRounds` untimed rounds compile their code and warm the JIT, then
    // `reps` timed rounds. Rounds spread what warming remains over every
    // prefix instead of loading it onto the first. Each prefix carries the
    // timed label's checksum observe over the columns it has (`text` in
    // place of `scrubbed_text`), so the differences cancel it.
    def checked(df: DataFrame, hashed: Seq[Column], kept: Column): DataFrame = {
      val c = checksumCols(hashed, kept)
      df.observe("graftbench_prefix", c.head, c.tail: _*)
    }
    val rowCols = Seq(col("conv_id"), col("turn_idx"), col("text"))
    val noScrub = t.span("skew.census")(label(ds)).drop("scrubbed_text", "scrub_counts")
    attempt("windows prefix has no scrub projection")(noScrub.queryExecution.optimizedPlan
      .toString.toLowerCase.contains("scruball"))(!_)
    val prefixes = Seq(
      "scan" -> checked(ds.toDF(), rowCols, lit(false)),
      "score" -> checked(QualityFilter.score(ds).toDF(), rowCols, lit(false)),
      "exchange" -> checked(QualityFilter.score(ds).repartition(Parts, col("conv_id")).toDF(),
        rowCols, lit(false)),
      "windows" -> checked(noScrub, Seq(col("conv_id"), col("turn_idx"), col("keep"),
        concat_ws("|", col("drop_reasons")), col("text")), col("keep")),
      "label" -> observed(t.span("skew.census")(label(ds))))
    (1 - WarmRounds to reps).foreach { round =>
      prefixes.foreach { case (name, plan) =>
        def run(): Unit = reExecute(plan).queryExecution.toRdd.foreach(_ => ())
        attempt(s"prefix $name")(if (round <= 0) run() else t.span(s"prefix.$name")(run()))(_ => true)
      }
    }
    // untraced reference for the tracing overhead, as warm as the prefixes
    val plain = repeat(reps, 0, 0)(timedLabel("untraced reference", ref))
    ref.get("label").foreach(checksums("label") = _)
    // bytes the labelling call's scans read, from one untimed execution.
    // Parquet's vectored reads run off the task thread, where Hadoop's
    // per-thread read counts miss them, so this execution turns them off.
    val hadoop = spark.sparkContext.hadoopConfiguration
    val priorVectored = Option(hadoop.get(VectoredIo))
    hadoop.set(VectoredIo, "false")
    try attempt("label without vectored reads")(t.span("scan.bytes")(drainChecked(reExecute(labelPlan))))(
      sum => ref.get("label").contains(sum))
    finally priorVectored.fold(hadoop.unset(VectoredIo))(hadoop.set(VectoredIo, _))
    t.span("resume.neardup") {
      attempt("conv near-dup pass")(QualityFilter.convNearDupDropIds(ds.toDF()).count())(_ => true)
    }

    // scrub counts on the full output (untimed)
    val scrubRow = attempt("scrub counts") {
      label(ds).agg(
        sum(aggregate(map_values(col("scrub_counts")), lit(0L), (a, v) => a + v.cast("long"))),
        sum(when(col("text").isNotNull, 1L).otherwise(0L)),
        sum(when(col("text").isNotNull && !(col("scrubbed_text") <=> col("text")), 1L)
          .otherwise(0L))).head()
    }(_ => true)

    // the bucketed run, then its traced replay into a second table
    val cfgR = bucketed(s"${o.work}/metrics")
    val programRoot = s"${o.work}/table"
    // the program's own fresh run; its peak of cached blocks is the IQR persist
    // plus the boilerplate and decontamination key sets
    val programFresh = attempt("bucketed fresh run")(
      t.peakCachedBytes(secs(cfgR.run(ds, programRoot))))(_ => true)
    val programSum = attempt("fresh table checksum")(tableChecksum(programRoot, cfgR.buckets))(_ => true)
    programSum.foreach(checksums("bucketed_table") = _)
    val replayRoot = s"${o.work}/replay"
    val replayFresh = t.span("replay.fresh") {
      attempt("traced replay")(cfgR.replay(ds, replayRoot, Some(s"${o.work}/replay-metrics")
        .filter(_ => cfgR.metricsRoot.isDefined), t))(_ => true).getOrElse(Nil)
    }
    attempt("replay table == program table")(tableChecksum(replayRoot, cfgR.buckets))(
      sum => programSum.contains(sum))
    val replayTable = SnapshotTable(replayRoot, cfgR.buckets)
    val committedBefore = attempt("replay roll back to half") {
      val v = replayTable.snapshotHistory.find(v => replayTable.bucketsAt(v).size == cfgR.buckets / 2).get
      replayTable.rollbackTo(v)
      replayTable.completedBuckets
    }(_.size == cfgR.buckets / 2).getOrElse(Set.empty[Int])
    val recomputed = t.span("replay.resume") {
      attempt("traced replay resume")(cfgR.replay(ds, replayRoot, Some(s"${o.work}/replay-metrics")
        .filter(_ => cfgR.metricsRoot.isDefined), t))(
        _.size == cfgR.buckets - cfgR.buckets / 2).getOrElse(Nil)
    }
    attempt("resumed replay table == program table")(tableChecksum(replayRoot, cfgR.buckets))(
      sum => programSum.contains(sum))
    t.drain()

    // ---- per-layer numbers
    def medSpan(name: String): Double = median(t.spansNamed(name).map(_.seconds))
    def tasksOf(name: String): Seq[Seq[TaskRec]] =
      t.spansNamed(name).map(s => t.tasksIn(t.subtree(s.id)))
    def lastTasks(name: String): Seq[TaskRec] = tasksOf(name).lastOption.getOrElse(Nil)
    def sumSpans(name: String): Double = t.spansNamed(name).map(_.seconds).sum
    val scan = medSpan("prefix.scan")
    val score = medSpan("prefix.score")
    val exch = medSpan("prefix.exchange")
    val win = medSpan("prefix.windows")
    val full = medSpan("prefix.label")
    // the label call's own census (the replay's census spans nest under replay.*)
    val census = median(t.spansNamed("skew.census").filter(_.parent == 0).map(_.seconds))
    val chars = inputShape("text_chars")
    val scanBytes = tasksOf("scan.bytes").flatten.map(_.bytesRead).sum
    val exTasks = lastTasks("prefix.exchange")
    val readPerTask = exTasks.filter(_.shuffleReadBytes > 0).map(_.shuffleReadBytes.toDouble)
    val winTasks = lastTasks("prefix.windows")
    val winStage = winTasks.filter(_.shuffleReadBytes > 0).groupBy(_.stage)
      .maxByOption(_._2.map(_.runMs).sum).map(_._2).getOrElse(Nil)
    val winSortMs = median(tasksOf("prefix.windows").map(_.map(_.sortMs).sum.toDouble))

    val commits = t.spansNamed("commit").filter(c => isUnder(t, c, "replay.fresh"))
    val commitWriteMs = commits.map(c =>
      Tracer.unionMs(t.jobsIn(Set(c.id)).map(j => (j.startMs, j.endMs)))).sum
    val commitSecs = commits.map(_.seconds)
    val commitBytes = commits.flatMap(c => t.tasksIn(Set(c.id))).map(_.bytesWritten).sum
    def freshSpanSum(name: String) =
      t.spansNamed(name).filter(s => isUnder(t, s, "replay.fresh")).map(_.seconds).sum
    val replayFreshS = medSpan("replay.fresh")
    val replayGap = replayFreshS / programFresh.map(_._1).getOrElse(Double.NaN) - 1.0
    attempt(s"replay wall within $ReplayGapMax of the program's")(replayGap)(
      g => math.abs(g) <= ReplayGapMax)
    val wasted = recomputed.count(committedBefore.contains)

    writeSpans(t)
    t.stop()
    crossRunCheck()

    // the same labelling on one task thread: N -> 4N scaling efficiency
    session(1)
    labelPlan = observed(label(input))
    val one = repeat(3, 0, 0)(timedLabel("1 thread", ref)).drop(1)

    val metrics = Seq(
      "scan.self_s" -> (scan, "s"),
      "scan.bytes_read" -> (scanBytes.toDouble, "B"),
      "score.self_s" -> (score - scan, "s"),
      "score.chars" -> (chars, "count"),
      "score.ns_per_char" -> ((score - scan) * 1e9 / chars, "ns/char"),
      "exchange.self_s" -> (exch - score, "s"),
      "exchange.shuffle_bytes" -> (exTasks.map(_.shuffleWriteBytes).sum.toDouble, "B"),
      "exchange.shuffle_records" -> (exTasks.map(_.shuffleWriteRecords).sum.toDouble, "count"),
      "exchange.partition_skew" -> (readPerTask.maxOption.getOrElse(0.0) /
        math.max(1.0, median(readPerTask)), "ratio"),
      "windows.self_s" -> (win - exch, "s"),
      "windows.sort_s" -> (winSortMs / 1000.0, "s"),
      "windows.spill_bytes" -> (winTasks.map(_.spillBytes).sum.toDouble, "B"),
      "windows.peak_mem_mb" -> (winTasks.map(_.peakMem).foldLeft(0L)(math.max) / 1048576.0, "MB"),
      "skew.census_s" -> (if (shape.skewMaxTurns > 0) census else 0.0, "s"),
      "skew.giant_turns" -> (inputShape("giant_turns"), "count"),
      "skew.straggler_ratio" -> (winStage.map(_.runMs.toDouble).maxOption.getOrElse(0.0) /
        math.max(1.0, median(winStage.map(_.runMs.toDouble))), "ratio"),
      "scrub.self_s" -> (full - win, "s"),
      "scrub.spans" -> (scrubRow.map(_.getLong(0).toDouble).getOrElse(0.0), "count"),
      "scrub.changed_frac" -> (scrubRow.map(r => r.getLong(2).toDouble / math.max(1L, r.getLong(1)))
        .getOrElse(0.0), "ratio"),
      "commit.write_s" -> (commitWriteMs / 1000.0, "s"),
      "commit.manifest_s" -> (commitSecs.sum - commitWriteMs / 1000.0, "s"),
      "commit.bucket_p50_s" -> (median(commitSecs), "s"),
      "commit.bucket_p90_s" -> (quantile(commitSecs, 0.9), "s"),
      "commit.bytes" -> (commitBytes.toDouble, "B"),
      "commit.files" -> (replayTable.filesAt(replayTable.currentVersion).size.toDouble, "count"),
      "metrics.self_s" -> (freshSpanSum("metrics"), "s"),
      "resume.iqr_s" -> (freshSpanSum("resume.iqr"), "s"),
      "resume.persist_bytes" -> (programFresh.map(_._2.toDouble).getOrElse(0.0), "B"),
      "resume.boilerplate_s" -> (freshSpanSum("resume.boilerplate"), "s"),
      "resume.neardup_s" -> (sumSpans("resume.neardup"), "s"),
      "resume.decontam_s" -> (freshSpanSum("resume.decontam"), "s"),
      "resume.buckets_recomputed" -> (recomputed.size.toDouble, "count"),
      "resume.wasted_frac" -> (wasted.toDouble / math.max(1, recomputed.size), "ratio"),
      "skew.scaling_eff" -> (median(one) / (o.threads * median(plain)), "ratio"),
      "trace.overhead_frac" -> (full / median(plain) - 1.0, "ratio"),
      "trace.replay_gap_frac" -> (replayGap, "ratio"))
    samples ++= Seq("label_s_untraced" -> plain, "label_s_1thread" -> one,
      "replay_fresh_s" -> Seq(replayFreshS),
      "program_fresh_s" -> programFresh.map(_._1).toSeq)
    (metrics, Map("mode" -> "traced", "replay_buckets" -> replayFresh.size))
  }

  private val VectoredIo = "parquet.hadoop.vectored.io.enabled"

  /** Largest relative gap between the replayed and the program's fresh
    * bucketed run before the replay counts as drifted from the program:
    * each is a single run, and the replay runs second, warm, and so reads
    * about 20% faster. */
  private val ReplayGapMax = 0.5

  private def isUnder(t: Tracer, s: Span, ancestor: String): Boolean = {
    val byId = t.allSpans.map(x => x.id -> x).toMap
    var p = byId.get(s.parent)
    while (p.exists(_.name != ancestor)) p = p.flatMap(x => byId.get(x.parent))
    p.isDefined
  }

  private def writeSpans(t: Tracer): Unit = {
    val dir = Paths.get(o.work).getParent.resolve("traces")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${o.workload}-${o.seed}.jsonl"),
      (t.spansJson.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Context recorded with every result. */
  def commonContext: Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "smoke" -> o.smoke, "task_threads" -> o.threads,
      "input" -> Json.RawObj(inputShape.toSeq.map { case (k, v) => k -> v }),
      "checksums" -> Json.RawObj(checksums.toSeq),
      "samples" -> Json.RawObj(samples.toSeq.map { case (k, v) => k -> v }),
      "failures" -> failures.toSeq,
      "jvm" -> Json.obj("version" -> System.getProperty("java.version"),
        "max_heap_mb" -> rt.maxMemory / 1048576, "available_processors" -> rt.availableProcessors),
      "spark" -> Json.obj("version" -> org.apache.spark.SPARK_VERSION,
        "shuffle_partitions" -> Parts, "input_files" -> InputFiles))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class RawObj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): RawObj = RawObj(fields)
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def render(v: Any): String = v match {
    case RawObj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
