package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, PerfbenchSql, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.Join
import graft.model.SynthCorpus
import graft.ops.SpatialJoin
import graft.plans.{StIntersects, StIntersectsWkb}
import graft.table.IcebergLite

/** The traced run's per-layer metrics. Every workload reports the same
  * set, measured on its own staged table; a workload that does not use a
  * layer's mechanism reports what that mechanism would do on its input
  * (e.g. the salt decision on the broadcast corpus) or a neutral count. */
final class Layers(run: Run, spark: SparkSession, st: Assign.Staged,
                   hotspotFrac: Double = 0.2) {

  private val Reps = 3
  private val OverheadPairs = 6
  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Workload-specific values that replace the defaults below. */
  val overrides = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def med(body: => Unit): Double = Util.median((1 to Reps).map(_ => Util.seconds(body)._2))
  private def set(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)

  /** Measure the layers under the workload's primary op `op`, whose join
    * runs with `saltBuckets`. */
  def primary(saltBuckets: Int)(op: => Option[Double]): Unit = {
    val read = () => IcebergLite.read(spark, st.table)
    val n = st.nDocs.toDouble

    // Spark's task metrics, per primary op
    Trace.drain(spark); Trace.tasks.reset(); Trace.resetPeakHeap()
    val opWalls = (1 to Reps).flatMap(_ => op)
    Trace.drain(spark)
    val tm = Trace.tasks
    Main.log(f"primary op ${Util.median(opWalls)}%.3f s; its stages:")
    tm.stageSummary.foreach(l => Main.log("  " + l))
    set("spark.task_s", tm.runMs / 1000.0 / Reps, "s")
    set("spark.spill_bytes", tm.spillBytes.toDouble / Reps, "bytes")
    set("spark.peak_exec_mem_mb", tm.peakExecBytes / 1048576.0, "MB")
    set("jvm.peak_heap_mb", Trace.peakHeapMb(), "MB")
    set("ops.shuffle_bytes", tm.shuffleWriteBytes.toDouble / Reps, "bytes")
    set("ops.reduce_task_skew", tm.taskSkew, "ratio")

    // tracing overhead: the op with listeners and spans off and on, in
    // off-on, on-off, ... order so that a drift in op time cancels out
    def timed(on: Boolean): Option[Double] = {
      if (on) { Trace.enabled = true; Trace.install(spark) }
      else { Trace.uninstall(spark); Trace.enabled = false }
      op
    }
    val pairs = (1 to OverheadPairs).map { i =>
      if (i % 2 == 1) { val off = timed(on = false); (off, timed(on = true)) }
      else { val on = timed(on = true); (timed(on = false), on) }
    }
    Trace.enabled = true; Trace.install(spark)
    set("trace.overhead_frac", Util.median(pairs.flatMap(_._2)) / Util.median(pairs.flatMap(_._1)) - 1, "ratio")

    // model + table
    set("model.corpus_gen_s", med(Trace.span("model", "model.docs") {
      Util.noop(SynthCorpus.docs(spark, st.nDocs, run.seed, hotspotFrac = hotspotFrac))
    }), "s")
    val scan = med(Trace.span("table", "table.scan")(Util.noop(read().select("wkb"))))
    set("table.scan_s", scan, "s")
    val snap = IcebergLite.readSnapshot(st.table).get
    set("table.append_ms_p50", Util.median(st.appendMs), "ms")
    set("table.files_per_commit", snap.files.size.toDouble, "count")
    set("table.bytes_per_doc", Util.dirBytes(java.nio.file.Paths.get(st.table)) / n, "bytes")
    val opened = read().inputFiles.length.toDouble
    set("table.files_per_read", opened, "count")
    set("table.files_read_frac", opened / snap.files.size, "ratio")

    // cells + ops: parts of the engine's own join, over the corpus cached
    // in memory so that the scan is left out
    val cached = read().cache()
    cached.count()
    val join = new EngineJoin(spark, Assign.assignedOf(spark, cached, if (saltBuckets > 1) saltBuckets else 0))
    val cover = med(Trace.span("cells", "cells.cover")(Util.noop(join.probe)))
    set("cells.cover_s", cover, "s")
    set("cells.cells_per_doc", join.probe.count() / n, "count")
    val candidates = join.rows(join.keys)
    val kept = join.rows(join.keys ++ join.prefilter)
    val assigned = join.rows(join.keys ++ join.prefilter ++ join.refine)
    run.check(assigned == st.expected.rows,
      s"the engine's join yields $assigned rows, expected ${st.expected.rows}")
    set("ops.candidate_pairs", candidates.toDouble, "count")
    set("ops.dedup_keep_ratio", kept.toDouble / candidates, "ratio")
    set("ops.refine_pass_ratio", assigned.toDouble / kept, "ratio")
    set("ops.dim_rows_replicated", join.build.count().toDouble, "count")
    cached.unpersist()

    val assignS = med(Assign.assignCount(spark, st.table, if (saltBuckets > 1) saltBuckets else 0))
    set("ops.probe_refine_s", assignS - scan - cover, "s")
    if (saltBuckets > 1) {
      val broadcastS = med(Assign.assignCount(spark, st.table))
      Main.log(f"assign on this table: salted ×$saltBuckets $assignS%.3f s, broadcast $broadcastS%.3f s")
    }
    set("ops.salt_buckets", math.max(1, saltBuckets).toDouble, "count")
    set("ops.histogram_s", med(Trace.span("ops", "ops.histogram") {
      SpatialJoin.suggestSaltBuckets(read(), "wkt", 5, Assign.SkewTargetPerBucket)
    }), "s")
    set("ops.hottest_cell_rows", SpatialJoin.cellHistogram(read(), "wkt", 5)
      .agg(max("count")).head().getLong(0).toDouble, "count")
  }

  /** Report every per-layer metric; `scaling` is the workload's
    * (rate at local[4] ÷ rate at local[1]) ÷ 4. */
  def finish(scaling: Double): Unit = {
    set("ops.scaling_efficiency", scaling, "ratio")
    set("jvm.gc_s", Trace.gcSeconds(), "s")
    overrides.foreach { case (k, v) => out(k) = v }
    Layers.Names.foreach { k =>
      val (v, u) = out.getOrElse(k, throw new IllegalStateException(s"per-layer metric $k unset"))
      run.metric(k, v, u)
    }
  }
}

object Layers {
  /** The per-layer metric names, in report order (BENCHMARK.json lists the
    * same set). */
  val Names: Seq[String] = Seq(
    "model.corpus_gen_s",
    "table.scan_s", "table.append_ms_p50", "table.files_per_commit", "table.bytes_per_doc",
    "table.files_per_read", "table.files_read_frac",
    "cells.cover_s", "cells.cells_per_doc",
    "ops.probe_refine_s", "ops.candidate_pairs", "ops.dedup_keep_ratio", "ops.refine_pass_ratio",
    "ops.salt_buckets", "ops.histogram_s", "ops.hottest_cell_rows", "ops.dim_rows_replicated",
    "ops.shuffle_bytes", "ops.reduce_task_skew", "ops.scaling_efficiency",
    "spark.task_s", "spark.spill_bytes", "spark.peak_exec_mem_mb",
    "jvm.gc_s", "jvm.peak_heap_mb", "trace.overhead_frac")
}

/** The join in the optimized plan of an assignment, taken apart: its probe
  * and build sides, and the conjuncts of its condition (the optimizer
  * pushes the dedup and refine filters into it) sorted into the equi-join
  * keys, the exact geometric refine (a JTS intersects, native or UDF), and
  * the prefilter (everything else: the min-shared-cell dedup). `rows`
  * counts the join's output under a subset of the conjuncts, so every
  * figure follows the engine's own plan. */
final class EngineJoin(spark: SparkSession, assigned: DataFrame) {
  private val plan = PerfbenchSql.optimizedPlan(assigned)
  private val join = plan.collectFirst { case j: Join => j }
    .getOrElse(throw new IllegalStateException("the assignment plan has no join"))
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }
  private val all = join.condition.toSeq.flatMap(conjuncts)
  private def isRefine(e: Expression) = e.find {
    case _: StIntersects | _: StIntersectsWkb | _: ScalaUDF => true
    case _ => false
  }.isDefined
  private def isKey(e: Expression) = e match {
    case EqualTo(a, b) =>
      def sides(l: Expression, r: Expression) = l.references.nonEmpty && r.references.nonEmpty &&
        l.references.subsetOf(join.left.outputSet) && r.references.subsetOf(join.right.outputSet)
      sides(a, b) || sides(b, a)
    case _ => false
  }
  val (refine, rest) = all.partition(isRefine)
  val (keys, prefilter) = rest.partition(isKey)
  require(keys.nonEmpty && refine.nonEmpty, s"unexpected join condition: ${all.mkString(" AND ")}")

  def probe: DataFrame = PerfbenchSql.ofPlan(spark, join.left)
  def build: DataFrame = PerfbenchSql.ofPlan(spark, join.right)
  def rows(conds: Seq[Expression]): Long =
    PerfbenchSql.ofPlan(spark, join.copy(condition = conds.reduceOption(And))).count()
}
