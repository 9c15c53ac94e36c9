package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.schema.Turn

/** Checkpoint-resumable pipeline run (north rule): conversations are
  * hashed into `nBuckets` buckets; each bucket is labeled, written, and
  * committed to the snapshot table independently. A restarted run skips
  * committed buckets (idempotent overwrite + atomic manifest commit),
  * so a crash loses at most one bucket of work — the analog of resuming
  * from an Iceberg snapshot at 10^12-turn scale.
  *
  * Buckets partition by conv_id hash, so every conversation-scoped
  * window stays within one bucket — per-bucket results are identical to
  * a whole-corpus run (asserted by CheckpointSpec).
  *
  * At real scale the input table would itself be bucket-partitioned
  * (Iceberg `bucket(conv_id, B)` partition transform), making each
  * bucket job scan only its own files; on flat sandbox parquet each
  * bucket job rescans + filters, which is still correct.
  */
object CheckpointedRun {

  final case class RunResult(
      snapshotVersion: Int,
      bucketsComputed: Seq[Int],
      bucketsSkipped: Seq[Int])

  /** `afterDataCommit` is a fault-injection seam (crash drills): invoked
    * with the bucket id right after that bucket's DATA commit and
    * before its metrics commits — the window where a crash must force
    * the bucket to re-run on restart.
    */
  def run(input: Dataset[Turn], outRoot: String, nBuckets: Int,
          metricsRoot: Option[String] = None,
          skewMaxTurns: Int = 0,
          afterDataCommit: Int => Unit = _ => (),
          maxCollectedGiants: Int = SkewSplit.MaxCollectedGiants,
          convNearDup: Option[QualityFilter.ConvNearDupConfig] = None,
          boilerplate: Option[QualityFilter.BoilerplateConfig] = None,
          pplIqrK: Option[Double] = None,
          decontaminate: Option[QualityFilter.ContaminationConfig] = None): RunResult = {
    val table = SnapshotTable(outRoot, nBuckets)
    val bucket = Metrics.bucketCol(nBuckets)

    // metrics are snapshot tables of their own (the "Iceberg metrics
    // table"): committed per bucket with the same atomic-manifest
    // semantics as the data, so lineage is never ahead of or behind
    // the output snapshot by more than the in-flight bucket
    val metricTables = metricsRoot.map(mr =>
      (SnapshotTable(s"$mr/bucket_stats", nBuckets),
        SnapshotTable(s"$mr/rule_lineage", nBuckets)))

    // a bucket counts as done only when data AND metrics committed it:
    // a crash between the data commit and the metrics commits must
    // re-run the bucket on restart (every commit is an idempotent
    // overwrite), otherwise its stats/lineage rows are lost for good
    val done = metricTables match {
      case Some((statsT, lineageT)) =>
        table.completedBuckets intersect statsT.completedBuckets intersect
          lineageT.completedBuckets
      case None => table.completedBuckets
    }
    val todo = (0 until nBuckets).filterNot(done)

    // opt-in decontamination: the guard records the bench gram set's
    // CONTENT (count + xor of gram hashes), not just the path, so an
    // eval set rewritten under the table between runs fails the resume
    // instead of silently mixing label semantics per bucket (the same
    // reason ppl_iqr records its computed bounds). It scans only the
    // (small by design) eval set, so even the no-op resume checks it.
    val labeling = LabelingConfig(convNearDup, boilerplate,
      pplIqrK.map(k => (k, None)),
      decontaminate.map(d => (d, graft.ops.Decontaminate.benchFingerprint(
        input.sparkSession.read.parquet(d.benchPath), d.benchTextCol, d.n))))

    // Fully-committed no-op resume: nothing will be relabeled, so the
    // expensive CORPUS passes (full-corpus model scoring for the IQR
    // bounds) exist only to rebuild labeling.cfg's computed values for
    // the guard comparison. Compare the recorded parameters instead
    // and return — same failure semantics on a parameter mismatch,
    // zero corpus passes when the table is already complete. Only the
    // ppl_iqr bounds narrow to a k-only compare here (recomputing them
    // IS the full-corpus pass being skipped).
    if (todo.isEmpty) {
      labeling.requireCompatible(outRoot)
      return RunResult(table.currentVersion, Seq.empty, done.toSeq.sorted)
    }

    scala.util.Using.resource(new Persisted) { persist =>
      // opt-in IQR perplexity bounds (the A8 outlier rule on the model
      // score): quartiles are a whole-corpus statistic, so the bounds
      // are computed ONCE over the FULL input — naive per-bucket
      // quartiles would give each bucket different drop thresholds,
      // breaking the bucketed == direct invariant. Scoring is the
      // engine's dominant map cost, so the scored frame is PERSISTED and
      // reused: the quartile passes read it, and every bucket labels
      // from it instead of re-scoring its rows. Deterministic either way
      // (exact histogram-selection percentiles), so a resume recomputes
      // the identical bounds and labeling.cfg's recorded copy below
      // fails fast if it somehow doesn't (changed corpus, changed k).
      val scoredForIqr = pplIqrK.map(_ => persist(QualityFilter.score(input)))
      val pplBounds = for (k <- pplIqrK; s <- scoredForIqr)
        yield QualityFilter.pplIqrBounds(s, k)
      val cfg = labeling.copy(pplIqr = pplIqrK.map(k => (k, pplBounds)))

      // LABEL-SEMANTICS guard: every opt-in (conv-near-dup,
      // boilerplate, IQR ppl bounds, decontamination) changes what the
      // committed labels MEAN, so a resume must run with the same
      // settings the committed buckets were produced under — otherwise
      // the table silently mixes semantics per bucket. The first run
      // records the settings next to the manifests; later runs must
      // match them while any bucket is already committed.
      // (skew-max-turns is NOT recorded: the split changes the plan,
      // never the labels — CheckpointSpec pins split == unsplit.)
      if (table.completedBuckets.nonEmpty) cfg.requireCompatible(outRoot)
      Files.write(labelingCfg(outRoot), cfg.render.getBytes(UTF_8))

      // ONE census over the remaining corpus locates giant
      // conversations for every to-do bucket (SkewSplit would otherwise
      // census per bucket — nBuckets extra full-input jobs); buckets
      // with no giants run the standard path with zero split overhead.
      // The collect is LIMIT-bounded like SkewSplit.label's: when the
      // corpus is so degenerate that giants exceed the bound, every
      // bucket takes the join-based split instead of pulling an
      // unbounded id list to the driver (a guard applied after an
      // unbounded collect would OOM before it ran).
      val (giantsByBucket: Map[Int, Array[String]], censusOverflow: Boolean) =
        if (skewMaxTurns <= 0) (Map.empty[Int, Array[String]], false)
        else {
          import input.sparkSession.implicits._
          val rows = input.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
            .where(col("n_turns") > skewMaxTurns)
            .select(col("conv_id"), bucket.cast("int").as("b"))
            .limit(maxCollectedGiants + 1)
            .as[(String, Int)].collect()
          if (rows.length > maxCollectedGiants)
            (Map.empty[Int, Array[String]], true)
          else
            (rows.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }, false)
        }

      // opt-in conversation near-dup: near-dup PAIRS cross conv-hash
      // buckets, so the dropped-conversation set is computed ONCE over
      // the FULL corpus (deterministic LSH — a resumed run recomputes
      // the identical set, keeping re-run buckets bit-identical) and
      // joined into each bucket's labels. Persisted: every to-do bucket
      // reuses the one candidate-generation pass. The cd2 capped-bucket
      // truncation observation is harvested off the SAME materializing
      // action and lands in the metrics root as data (north rule:
      // recall-affecting truncation must be queryable, not buried in
      // logs).
      val dropped = convNearDup.map { c =>
        val d = persist(QualityFilter.convNearDupDropIds(input.toDF(), c))
        metricsRoot match {
          case Some(mr) =>
            val trunc = Metrics.truncationMetrics(d, Seq("cd2"))
            SnapshotTable(s"$mr/truncation", 1).commitBucket(trunc, 0)
          case None => d.count() // materialize the cache in one pass
        }
        d
      }

      // opt-in boilerplate: the census (which normalized texts recur
      // across >= minConvs conversations) also crosses conv-hash
      // buckets, so the dropped-turn key set is computed ONCE over the
      // FULL corpus — via the model-free raw path (normalize + hash
      // only; the per-bucket labeling already pays the model pass) —
      // persisted, and joined into each bucket. Deterministic, so a
      // resumed run recomputes the identical set.
      val bpDropped = boilerplate.map(c =>
        persist.materialized(QualityFilter.boilerplateDropKeysRaw(input, c)))

      // opt-in decontamination: per-turn (no cross-bucket coupling),
      // but still computed ONCE corpus-wide so the benchmark gram set is
      // built, counted, and broadcast-gated a single time instead of
      // per bucket. Deterministic — a resume recomputes the identical
      // keys. Materialized before any later call releases the fallback
      // path's one-slot upstream cache.
      val ctDropped = decontaminate.map(c => persist.materialized(
        QualityFilter.contaminatedTurnKeys(input.toDF(),
          input.sparkSession.read.parquet(c.benchPath), c)))

      // every bucket labels from ONE scored frame: the persisted IQR
      // frame, or else the lazy scoring projection — the bucket filter
      // pushes below it (PipelinePlanSpec), so each bucket scores only
      // its own rows either way. An empty giant list is the plain
      // single-sort path, which also covers skewMaxTurns <= 0.
      val scored = scoredForIqr.getOrElse(QualityFilter.score(input))
      todo.foreach { b =>
        val base =
          // censusOverflow: the corpus-wide giant count exceeded the
          // bound, so no bucket gets an inlined isin literal list (plan
          // size / driver memory) — all take the join-based split. A
          // join blocks the pushdown, so unpersisted input is scored
          // after the routing joins instead
          if (censusOverflow) scoredForIqr match {
            case Some(s) =>
              SkewSplit.labelViaJoinsScored(s.where(bucket === b), skewMaxTurns, pplBounds)
            case None =>
              SkewSplit.labelViaJoins(input.where(bucket === b), skewMaxTurns, pplBounds)
          }
          else SkewSplit.labelWithGiantsScored(scored.where(bucket === b), skewMaxTurns,
            giantsByBucket.getOrElse(b, Array.empty), pplBounds)
        // composition order = lineage order: boilerplate then
        // decontamination (turn-level) before conv-near-dup
        // (conversation-level) — finer-grained reasons first
        val withBp = bpDropped match {
          case Some(d) => QualityFilter.withBoilerplate(base, d)
          case None => base
        }
        val withCt = ctDropped match {
          case Some(d) => QualityFilter.withContaminated(withBp, d)
          case None => withBp
        }
        val labeled = dropped match {
          case Some(d) => QualityFilter.withConvNearDup(withCt, d)
          case None => withCt
        }
        table.commitBucket(labeled, b)
        afterDataCommit(b)
        metricTables.foreach { case (statsT, lineageT) =>
          // metrics read the bucket's COMMITTED parquet back instead of
          // re-running the pipeline per metrics table (2 extra pipeline
          // executions per bucket in round 1), and are thereby derived
          // from exactly the bytes the data snapshot serves
          val committed = input.sparkSession.read.parquet(s"$outRoot/data/bucket=$b")
          statsT.commitBucket(Metrics.bucketStats(committed, nBuckets), b)
          lineageT.commitBucket(Metrics.ruleLineage(committed, nBuckets), b)
        }
      }
    }
    RunResult(table.currentVersion, todo, done.toSeq.sorted)
  }

  /** The label-semantics settings a table was produced under, recorded
    * as `_graft/labeling.cfg` next to the manifests: one line per
    * setting, the conv-near-dup line always, the other lines only when
    * their rule is on (tables written before a rule existed resume
    * cleanly with it off). `pplIqr` carries k and, once computed, the
    * corpus-wide bounds; `decontaminate` carries the bench fingerprint.
    */
  private final case class LabelingConfig(
      convNearDup: Option[QualityFilter.ConvNearDupConfig],
      boilerplate: Option[QualityFilter.BoilerplateConfig],
      pplIqr: Option[(Double, Option[(Double, Double)])],
      decontaminate: Option[(QualityFilter.ContaminationConfig, (Long, Long))]) {
    decontaminate.foreach { case (d, _) =>
      require(!d.benchPath.contains("\n"),
        "decontamination bench path must not contain newlines (labeling.cfg is line-oriented)")
    }

    def render: String = (
      Seq(convNearDup.fold("conv_neardup=off")(c =>
        s"conv_neardup=${c.numHashes},${c.bands},${c.shingleK},${c.threshold},${c.maxBucket}")) ++
      boilerplate.map(b => s"boilerplate=${b.minConvs},${b.minLen}") ++
      // the COMPUTED bounds are recorded, not just k: a resume whose
      // recomputation lands different bounds (corpus changed under the
      // table) must fail the guard, not silently relabel
      pplIqr.map { case (k, bounds) =>
        s"ppl_iqr=$k," + bounds.fold("") { case (lo, hi) => s"$lo,$hi" } } ++
      decontaminate.map { case (d, (nGrams, xorSig)) =>
        s"decontaminate=${d.n},${d.minMatches},${d.benchTextCol}," +
          s"$nGrams:${java.lang.Long.toHexString(xorSig)},${d.benchPath}" }
    ).mkString("\n")

    /** Fails fast unless the table at `outRoot` was labelled with these
      * settings. Bounds not computed yet match any bounds recorded under
      * the same k. A table with no labeling.cfg predates the guard (or
      * was written via SnapshotTable directly) and carries the pre-rule
      * defaults: every opt-in off.
      */
    def requireCompatible(outRoot: String): Unit = {
      val f = labelingCfg(outRoot)
      val prior =
        if (Files.exists(f)) new String(Files.readAllBytes(f), UTF_8).trim
        else LabelingConfig(None, None, None, None).render
      val seen = pplIqr match {
        case Some((k, None)) =>
          val kOnly = s"ppl_iqr=$k,"
          prior.linesIterator.map(l => if (l.startsWith(kOnly)) kOnly else l)
            .mkString("\n")
        case _ => prior
      }
      require(seen == render,
        s"output table $outRoot was produced under '$prior' but this run asks " +
          s"for '$render' — finish the run with the original setting or start " +
          "a fresh output root")
    }
  }

  private def labelingCfg(outRoot: String) = Paths.get(outRoot, "_graft", "labeling.cfg")

  /** Frames cached at MEMORY_AND_DISK for one run; `close` releases them
    * and Decontaminate's fallback-path cache, also when a bucket threw.
    */
  private final class Persisted extends AutoCloseable {
    private val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def apply[T](ds: Dataset[T]): Dataset[T] = {
      held += ds
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    /** `apply`, then one pass that fills the cache. */
    def materialized[T](ds: Dataset[T]): Dataset[T] = { apply(ds).count(); ds }
    def close(): Unit = {
      held.foreach(_.unpersist(blocking = false))
      graft.ops.Decontaminate.releaseCache()
    }
  }

  /** Read the labeled output as of the current snapshot. */
  def readOutput(spark: SparkSession, outRoot: String, nBuckets: Int): DataFrame =
    SnapshotTable(outRoot, nBuckets).read(spark)

  /** Range read over the labeled output's `ts` column with FILE-LEVEL
    * pruning: only files whose parquet-footer ts bounds overlap
    * [tsLo, tsHi] are opened (SnapshotTable's per-file stats — files
    * with unknown/poisoned bounds are conservatively kept), then the
    * residual row filter applies on top. Rows with a NULL ts are
    * outside every range, matching SQL BETWEEN semantics. This is the
    * pipeline-level surface of the stats pruning, so operational reads
    * ("re-score yesterday's partitions") need no io internals.
    */
  def readOutputRange(spark: SparkSession, outRoot: String, nBuckets: Int,
                      tsLo: java.sql.Timestamp, tsHi: java.sql.Timestamp): DataFrame = {
    val table = SnapshotTable(outRoot, nBuckets)
    val (lo, hi) = (SnapshotTable.micros(tsLo), SnapshotTable.micros(tsHi))
    table.readAt(spark, table.currentVersion,
        f => SnapshotTable.overlapsLong(f, "ts", lo, hi))
      .where(col("ts") >= lit(tsLo) && col("ts") <= lit(tsHi))
  }
}
