package graftbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.pipeline.{CheckpointedRun, QualityFilter, SkewSplit}
import graft.schema.{ScoredTurn, Turn}

/** The bucketed configuration a workload runs through
  * `CheckpointedRun.run`, and a traced replay of that run: the same
  * public calls in the same order, each wrapped in a span. */
final case class BucketedConfig(
    buckets: Int, skewMaxTurns: Int, metricsRoot: Option[String],
    boilerplate: Option[QualityFilter.BoilerplateConfig],
    pplIqrK: Option[Double],
    decontaminate: Option[QualityFilter.ContaminationConfig]) {

  def run(input: Dataset[Turn], outRoot: String): CheckpointedRun.RunResult =
    CheckpointedRun.run(input, outRoot, buckets, metricsRoot = metricsRoot,
      skewMaxTurns = skewMaxTurns, boilerplate = boilerplate, pplIqrK = pplIqrK,
      decontaminate = decontaminate)

  /** Replay of `CheckpointedRun.run` (skipping its labeling.cfg guard
    * file, which only affects later resumes) into `outRoot`, with
    * metric tables under `metricsDir`. Returns the recomputed buckets. */
  def replay(input: Dataset[Turn], outRoot: String, metricsDir: Option[String],
             t: Tracer): Seq[Int] = {
    val spark = input.sparkSession
    import spark.implicits._
    val table = SnapshotTable(outRoot, buckets)
    val bucket = Metrics.bucketCol(buckets)
    val metricTables = metricsDir.map(mr =>
      (SnapshotTable(s"$mr/bucket_stats", buckets), SnapshotTable(s"$mr/rule_lineage", buckets)))
    val done = t.span("resume.guard") {
      metricTables match {
        case Some((s, l)) => table.completedBuckets intersect s.completedBuckets intersect
          l.completedBuckets
        case None => table.completedBuckets
      }
    }
    val todo = (0 until buckets).filterNot(done)
    if (todo.isEmpty) return Nil

    val scored: Option[Dataset[ScoredTurn]] = pplIqrK.map(_ =>
      QualityFilter.score(input).persist(StorageLevel.MEMORY_AND_DISK))
    val bounds = t.span("resume.iqr") {
      (pplIqrK, scored) match {
        case (Some(k), Some(s)) => Some(QualityFilter.pplIqrBounds(s, k))
        case _ => None
      }
    }
    decontaminate.foreach(d => t.span("resume.decontam") {
      graft.ops.Decontaminate.benchFingerprint(spark.read.parquet(d.benchPath),
        d.benchTextCol, d.n)
    })
    val giants: Map[Int, Array[String]] =
      if (skewMaxTurns <= 0) Map.empty
      else t.span("skew.census") {
        input.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
          .where(col("n_turns") > skewMaxTurns)
          .select(col("conv_id"), bucket.cast("int").as("b"))
          .as[(String, Int)].collect()
          .groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }
      }
    val bp: Option[DataFrame] = boilerplate.map(cfg => t.span("resume.boilerplate") {
      val d = QualityFilter.boilerplateDropKeysRaw(input, cfg)
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    })
    val ct: Option[DataFrame] = decontaminate.map(cfg => t.span("resume.decontam") {
      val d = QualityFilter.contaminatedTurnKeys(input.toDF(),
        spark.read.parquet(cfg.benchPath), cfg).persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    })

    todo.foreach { b =>
      val g = giants.getOrElse(b, Array.empty[String])
      val base = scored match {
        case Some(s) => SkewSplit.labelWithGiantsScored(
          s.where(bucket === b).as[ScoredTurn], skewMaxTurns, g, bounds)
        case None =>
          val bi = input.where(bucket === b)
          if (skewMaxTurns <= 0) QualityFilter.label(bi, 0, bounds)
          else SkewSplit.labelWithGiants(bi, skewMaxTurns, g, bounds)
      }
      val withBp = bp.fold(base)(QualityFilter.withBoilerplate(base, _))
      val labeled = ct.fold(withBp)(QualityFilter.withContaminated(withBp, _))
      t.span("commit") { table.commitBucket(labeled, b) }
      metricTables.foreach { case (statsT, lineageT) => t.span("metrics") {
        val committed = spark.read.parquet(s"$outRoot/data/bucket=$b")
        statsT.commitBucket(Metrics.bucketStats(committed, buckets), b)
        lineageT.commitBucket(Metrics.ruleLineage(committed, buckets), b)
      }}
    }
    Seq(bp, ct).flatten.foreach(_.unpersist(blocking = true))
    scored.foreach(_.unpersist(blocking = true))
    graft.ops.Decontaminate.releaseCache()
    todo
  }
}
