package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints one JSON result line last on stdout. */
object Main {

  val t0: Long = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1f] $msg")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(
      workload = opts("workload"), seed = opts("seed").toLong,
      seconds = opts("seconds").toInt, traced = opts("trace") == "1",
      work = Paths.get(opts("work")).toAbsolutePath)
    Trace.runId = s"${run.workload}-s${run.seed}"
    Trace.enabled = run.traced
    run.workload match {
      case "assign_broadcast" => Assign.broadcast(run)
      case "assign_skew" => Assign.skew(run)
      case "ingest_discover" => Ingest.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (run.traced) {
      Files.writeString(run.work.resolve(s"spans-${Trace.runId}.json"), Trace.spansJson)
      Files.writeString(run.work.resolve(s"operators-${Trace.runId}.jsonl"), Trace.plans.json)
      log(s"spans and operator metrics written under ${run.work}")
    }
    run.stopSession()
    log("done")
    println(run.resultJson)
  }
}

/** One benchmark run: its arguments, its Spark session, the tally of
  * attempted and failed operations, and the metrics it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: Path) {

  var attempted = 0
  var failed = 0
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var current: Option[SparkSession] = None

  /** Set-up outputs of this run, keyed by (workload, seed, size). The
    * workload's other keys are removed so the directory stays bounded
    * across many seeds. */
  def cacheDir(size: Long): Path = {
    val root = work.resolve("cache")
    val key = s"$workload-s$seed-n$size"
    if (Files.isDirectory(root))
      Files.list(root).toArray.map(_.asInstanceOf[Path]).filter { p =>
        val name = p.getFileName.toString
        name.startsWith(s"$workload-s") && name != key
      }.foreach(Util.deleteTree)
    Files.createDirectories(root.resolve(key))
  }

  /** A fresh engine session at `local[cores]`; any previous one is stopped. */
  def session(cores: Int): SparkSession = {
    stopSession()
    Main.log(s"session local[$cores]")
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.install(s)
    current = Some(s)
    s
  }

  def stopSession(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One correctness check; a mismatch counts as a failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      Main.log(s"CHECK FAILED: $what")
    }
    ok
  }

  /** One timed operation whose result `valid` must accept. Returns its wall
    * in seconds, or None when it threw or returned a wrong result. */
  def op[T](what: String)(body: => T)(valid: T => Boolean): Option[Double] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    Main.log(f"$what%s: $wall%.3f s")
    r match {
      case Right(v) => if (check(valid(v), s"$what returned $v")) Some(wall) else None
      case Left(e) =>
        check(ok = false, s"$what threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Record a metric; a non-finite value is a broken computation and
    * fails the run. */
  def metric(name: String, value: Double, unit: String): Unit = {
    if (value.isNaN || value.isInfinite)
      throw new IllegalStateException(s"metric $name is $value")
    metrics(name) = (value, unit)
    Main.log(f"$name%-28s $value%.6g $unit")
  }

  def resultJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

object Util {

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Repeat `op` until `budgetS` has passed and at least `minReps` ran;
    * returns the results of the reps that produced one and the loop's wall
    * in seconds. */
  def loop[T](budgetS: Double, minReps: Int)(op: => Option[T]): (Seq[T], Double) = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = Seq.newBuilder[T]
    var reps = 0
    while (reps < minReps || elapsed < budgetS) {
      op.foreach(out += _)
      reps += 1
    }
    (out.result(), elapsed)
  }

  /** Materialise every column of `df` without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path])
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
    }

  def dirBytes(p: Path): Long =
    Files.walk(p).toArray.map(_.asInstanceOf[Path])
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum
}
