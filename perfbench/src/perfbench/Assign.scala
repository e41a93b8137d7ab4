package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.SynthCorpus
import graft.ops.{SpatialJoin, TileAssign}
import graft.table.IcebergLite

/** The flagship tile assignment over a staged IcebergLite corpus, on the
  * broadcast path (`assign_broadcast`) and forced down the salted shuffle
  * path (`assign_skew`). */
object Assign {

  val BroadcastDocs = 80000L
  val SkewDocs = 24000L
  val SkewHotspotFrac = 0.7
  /** Rows per salt bucket handed to `suggestSaltBuckets`: the engine's
    * default (500k) is sized for corpora of millions; at this corpus size
    * the same rule is applied with the target scaled to the input. */
  val SkewTargetPerBucket: Long = SkewDocs / 32
  val SetupReps = 3

  def tiles(spark: SparkSession): DataFrame = SynthCorpus.tileGrid(spark).drop("path", "row")

  /** A staged corpus table and the reference digest of its assignment. */
  final case class Staged(table: String, nDocs: Long, expected: Reference.Digest,
                          setupS: Double, appendMs: Seq[Double])

  /** Generate the corpus and stage it as a plain IcebergLite table,
    * `SetupReps` times; set-up time is the median rep plus the warm-up.
    * The reference digest comes from grid arithmetic, not the engine. */
  def stage(run: Run, spark: SparkSession, n: Long, hotspotFrac: Double)
           (warmUp: String => Unit): Staged = {
    val dir: Path = run.cacheDir(n)
    val table = dir.resolve("corpus").toString
    val walls = (1 to SetupReps).map { _ =>
      Util.deleteTree(dir.resolve("corpus"))
      Util.seconds {
        Trace.span("table", "table.append") {
          IcebergLite.append(spark,
            SynthCorpus.docs(spark, n, run.seed, hotspotFrac = hotspotFrac).repartition(16),
            table, Seq("doc_id"), "c1")
        }
      }._2
    }
    Main.log(f"staged ${walls.mkString(", ")}")
    val (_, warm) = Util.seconds(warmUp(table))
    val expected = Reference.digest(Reference.tilePairs(
      IcebergLite.read(spark, table).select("doc_id", "xmin", "ymin", "xmax", "ymax")))
    Main.log("reference digest done")
    Staged(table, n, expected, Util.median(walls) + warm, walls.map(_ * 1000))
  }

  /** The assignment of the staged corpus: broadcast when `saltBuckets` is
    * 0, else the shuffled path salted ×`saltBuckets`. */
  def assigned(spark: SparkSession, table: String, saltBuckets: Int = 0): DataFrame =
    assignedOf(spark, IcebergLite.read(spark, table), saltBuckets)

  def assignedOf(spark: SparkSession, docs: DataFrame, saltBuckets: Int): DataFrame =
    TileAssign.assign(docs, tiles(spark),
      shuffled = saltBuckets > 0, saltBuckets = math.max(1, saltBuckets), geomCol = "wkb")

  def assignCount(spark: SparkSession, table: String, saltBuckets: Int = 0): Long =
    Trace.span("ops", "ops.assign")(assigned(spark, table, saltBuckets).count())

  /** Time `job` at local[4] for the run's seconds and report the
    * end-to-end metrics: the docs of the successful ops over the loop's
    * whole wall, and the median op wall. A traced run instead profiles the layers and times
    * `job` at local[1] as well, for the scaling efficiency. */
  private def measure(run: Run, spark: SparkSession, st: Staged, hotspotFrac: Double)
                     (saltBuckets: => Int)(job: SparkSession => Option[Double]): Unit = {
    val (walls4, loopS) = Util.loop(run.seconds, 5)(job(spark))
    if (!run.traced) {
      run.metric("setup_s", st.setupS, "s")
      run.metric("docs_per_s", st.nDocs * walls4.size / loopS, "docs/s")
      run.metric("op_ms_p50", Util.median(walls4) * 1000, "ms")
    } else {
      val layers = new Layers(run, spark, st, hotspotFrac)
      layers.primary(saltBuckets)(job(spark))
      val serial = run.session(1)
      job(serial) // first job of a fresh session: not timed
      val (walls1, _) = Util.loop(0, 3)(job(serial))
      layers.finish(scaling = Util.median(walls1) / Util.median(walls4) / 4)
    }
  }

  // ---- assign_broadcast ------------------------------------------------

  def broadcast(run: Run): Unit = {
    val spark = run.session(4)
    val st = stage(run, spark, BroadcastDocs, hotspotFrac = 0.2) { t =>
      (1 to 10).foreach(_ => assignCount(spark, t))
    }
    run.check(Reference.digest(assigned(spark, st.table)) == st.expected,
      "broadcast assignment digest differs from the grid reference")
    measure(run, spark, st, hotspotFrac = 0.2)(1) { s =>
      run.op("assign")(assignCount(s, st.table))(_ == st.expected.rows)
    }
  }

  // ---- assign_skew -----------------------------------------------------

  def skew(run: Run): Unit = {
    val spark = run.session(4)
    var lastS = 0
    /** The salt decision from the engine's own histogram, then the salted
      * shuffled join; both are timed. A decision of S = 1 skips the join. */
    def saltedJob(s: SparkSession, table: String): (Int, Long) = {
      val salt = Trace.span("ops", "ops.suggest_salt_buckets") {
        SpatialJoin.suggestSaltBuckets(IcebergLite.read(s, table), "wkt", 5, SkewTargetPerBucket)
      }
      lastS = salt
      (salt, if (salt > 1) assignCount(s, table, salt) else -1L)
    }
    val st = stage(run, spark, SkewDocs, SkewHotspotFrac) { t =>
      (1 to 8).foreach(_ => saltedJob(spark, t))
    }
    Main.log(s"salt buckets S = $lastS")
    val salted = Reference.digest(assigned(spark, st.table, math.max(2, lastS)))
    run.check(lastS > 1, "the salt decision returned S = 1")
    run.check(salted == st.expected, "salted assignment digest differs from the grid reference")
    run.check(Reference.digest(assigned(spark, st.table)) == salted,
      "broadcast and salted assignments differ")
    measure(run, spark, st, SkewHotspotFrac)(lastS) { s =>
      run.op("salt decision + salted assign")(saltedJob(s, st.table)) {
        case (salt, rows) => salt > 1 && rows == st.expected.rows
      }
    }
  }
}
