package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.geom.Geo
import graft.model.SynthCorpus
import graft.run.{Checkpoint, Pipeline}
import graft.table.IcebergLite

/** `ingest_discover`: K commits of corpus slices into a `cell[2]`
  * partitioned IcebergLite table, then the Search & Discover pipeline
  * one-shot on a fresh checkpoint base and resumed on a second one, then AOI
  * reads (half small AOIs inside the hotspot, half 5° × 5° world-uniform
  * ones). The reads come last so that they run on a warm JVM. */
object Ingest {

  val Docs = 20000L
  val Commits = 4
  /** AOIs generated per run; the reads cycle through them for the run's
    * seconds, at least `MinReads` times. */
  val Aois = 60
  val MinReads = 30
  val SetupReps = 3
  type Box = (Double, Double, Double, Double)
  /** The pipeline's area of interest: the eastern half of the hotspot and
    * the ocean west of it. */
  val DiscoverAoi: Box = (140.0, -40.0, 180.0, 0.0)
  val Spec = Seq(IcebergLite.PartitionField("cell", "wkt", "cell[2]"))

  private def wkt(b: Box) = Geo.rectWkt(b._1, b._2, b._3, b._4)

  /** Seeded AOIs on the 1/16° lattice, alternating hot and world-uniform. */
  def aois(seed: Long): Seq[Box] = {
    val rng = new scala.util.Random(seed)
    def lattice(lo: Double, span: Double) = lo + rng.nextInt((span * 16).toInt + 1) / 16.0
    (0 until Aois).map { i =>
      if (i % 2 == 0) {
        val w = 0.25 + rng.nextInt(13) / 16.0 // 0.25° .. 1°
        val x0 = lattice(178.0, 2.0 - w); val y0 = lattice(-19.0, 4.0 - w)
        (x0, y0, x0 + w, y0 + w)
      } else {
        val x0 = lattice(-180.0, 355.0); val y0 = lattice(-90.0, 175.0)
        (x0, y0, x0 + 5.0, y0 + 5.0)
      }
    }
  }

  /** Closed box-overlap of each footprint with `a` (AM-split aware). */
  private def touchesCol(a: Box): Column = {
    def xOverlap(lo: Column, hi: Column) = lo <= a._3 && hi >= a._1
    col("ymin") <= a._4 && col("ymax") >= a._2 &&
      when(col("xmin") <= col("xmax"), xOverlap(col("xmin"), col("xmax")))
        .otherwise(xOverlap(col("xmin"), lit(180.0)) || xOverlap(lit(-180.0), col("xmax")))
  }

  def run(run: Run): Unit = {
    var spark = run.session(4)
    val dir = run.cacheDir(Docs)
    val source = dir.resolve("source").toString
    val boxes = aois(run.seed)

    // set-up: stage the corpus the commits slice from, SetupReps times
    val walls = (1 to SetupReps).map { _ =>
      Util.deleteTree(dir.resolve("source"))
      Util.seconds(IcebergLite.append(spark,
        SynthCorpus.docs(spark, Docs, run.seed).repartition(16), source, Seq("doc_id"), "c1"))._2
    }
    Main.log(f"staged ${walls.mkString(", ")}")
    val src = IcebergLite.read(spark, source)
    val bounds = src.select("xmin", "ymin", "xmax", "ymax").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val expectedHits = boxes.map(b => bounds.count { case (x0, y0, x1, y1) =>
      Reference.touches(x0, y0, x1, y1, b) }.toLong)
    val inventory = Reference.tilePairs(src)
      .where(pmod(xxhash64(col("doc_id"), col("tile_id")), lit(10)) === 0).cache()
    val expectedJobs = Reference.digest(Reference.tilePairs(src.where(touchesCol(DiscoverAoi)))
      .join(inventory, Seq("doc_id", "tile_id"), "left_anti"))
    val aoiKeys = src.where(touchesCol(DiscoverAoi)).count()

    def slice(k: Int) = IcebergLite.read(spark, source)
      .where(pmod(xxhash64(col("doc_id")), lit(Commits)) === k)
    /** `commits` commits into a fresh table; returns the successful commit walls. */
    def ingest(name: String, commits: Int = Commits): (String, Seq[Double]) = {
      val table = dir.resolve(name).toString
      Util.deleteTree(dir.resolve(name))
      val ws = (0 until commits).flatMap { k =>
        run.op(s"commit $k")(Trace.span("table", "table.commit") {
          if (k == 0) IcebergLite.createPartitioned(spark, slice(k), table, Spec, Seq("doc_id"), s"c$k")
          else IcebergLite.append(spark, slice(k), table, Seq("doc_id"), s"c$k")
        })(_ => true)
      }
      run.check(commits < Commits || IcebergLite.read(spark, table).count() == Docs,
        s"$name does not hold all $Docs docs")
      (table, ws)
    }
    val (_, warm) = Util.seconds {
      val (t, _) = ingest("warm", commits = 1)
      boxes.take(10).foreach(b => IcebergLite.readAoi(spark, t, wkt(b)).count())
    }
    val setupS = Util.median(walls) + warm

    // ingest
    val (table, commitWalls) = ingest("table")

    // Search & Discover one-shot, then a resume on a second base
    val tiles = Assign.tiles(spark)
    val docs = IcebergLite.read(spark, table)
    def discover(base: String, input: DataFrame, commitId: String): (DataFrame, Double, Double) = {
      val (jobs, stageS) = Util.seconds(Trace.span("run", "run.search_discover") {
        Pipeline.searchDiscover(spark, input, tiles, inventory, wkt(DiscoverAoi), base, commitId)
      })
      val (_, docS) = Util.seconds(Trace.span("run", "run.jobdoc")(Util.noop(jobs)))
      (jobs, stageS, docS)
    }
    val base1 = dir.resolve("ckpt-oneshot"); Util.deleteTree(base1)
    val (oneShot, assignStageS, jobdocS) = discover(base1.toString, docs, "c1")
    val discoverS = assignStageS + jobdocS
    val base2 = dir.resolve("ckpt-resume"); Util.deleteTree(base2)
    val half = docs.where(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
    discover(base2.toString, half, "A")
    val (resumed, resumeStageS, resumeDocS) = discover(base2.toString, docs, "B")
    val resumeS = resumeStageS + resumeDocS

    // checks: one-shot = reference, resume = one-shot, spans carried verbatim
    val oneShotDigest = Reference.digest(oneShot)
    run.check(oneShotDigest == expectedJobs, s"job docs $oneShotDigest differ from the reference $expectedJobs")
    run.check(Reference.digest(resumed, "doc_id", "job_json") ==
      Reference.digest(oneShot, "doc_id", "job_json"), "resumed job docs differ from the one-shot job docs")
    val spanType = docs.schema("spans").dataType
    val jobSchema = StructType(Seq(StructField("doc_id", StringType),
      StructField("tile_id", StringType), StructField("spans", spanType)))
    val changed = resumed.select(col("doc_id"), from_json(col("job_json"), jobSchema)("spans").as("js"))
      .join(docs.select("doc_id", "spans"), "doc_id")
      .where(!(col("js") <=> col("spans"))).count()
    run.check(changed == 0, s"$changed job docs do not carry their input spans verbatim")
    val (committedKeys, committedKeysS) = Util.seconds(Trace.span("run", "run.committed_keys") {
      Checkpoint.committedKeys(spark, base2.toString, "assign", "doc_id").get.count()
    })
    run.check(committedKeys == aoiKeys, s"$committedKeys committed keys, expected $aoiKeys")
    val rowsInB = Checkpoint.log(spark, base2.toString, "assign")
      .where(col("commit_id") === "B").agg(max("rows_in")).head().getLong(0)
    val gapRows = half.where(touchesCol(DiscoverAoi)).count()
    val usefulRatio = (aoiKeys - gapRows).toDouble / rowsInB
    Main.log(f"discover $discoverS%.3f s (stage $assignStageS%.3f, jobdoc $jobdocS%.3f); " +
      f"resume $resumeS%.3f s; committed keys $committedKeysS%.3f s; rows recomputed $rowsInB, " +
      f"useful ratio $usefulRatio%.3f")

    // AOI reads, in (hot, world) pairs for the run's seconds
    val snapFiles = IcebergLite.readSnapshot(table).get.files.size
    val reads = {
      var i = 0
      def read() = {
        val (b, expected) = (boxes(i % Aois), expectedHits(i % Aois))
        i += 1
        run.op("aoi read")(Trace.span("table", "table.read_aoi") {
          IcebergLite.readAoi(spark, table, wkt(b)).count()
        })(_ == expected)
      }
      Util.loop(run.seconds, MinReads / 2)(Some(Seq(read(), read()).flatten))._1.flatten
    }
    Main.log(f"aoi read p90 ${Util.quantile(reads, 0.9) * 1000}%.1f ms over ${reads.size} reads")
    if (!run.traced) {
      run.metric("setup_s", setupS, "s")
      run.metric("docs_per_s", Docs.toDouble / commitWalls.sum, "docs/s")
      run.metric("op_ms_p50", Util.median(reads) * 1000, "ms")
    } else {
      val layers = new Layers(run, spark, Assign.Staged(table, Docs,
        Reference.digest(Reference.tilePairs(docs)), setupS, commitWalls.map(_ * 1000)))
      val opened = boxes.take(10).map(b => IcebergLite.readAoi(spark, table, wkt(b)).inputFiles.length)
      layers.overrides("table.files_per_read") = (opened.sum.toDouble / opened.size, "count")
      layers.overrides("table.files_read_frac") = (opened.sum.toDouble / opened.size / snapFiles, "ratio")
      layers.overrides("table.files_per_commit") = (snapFiles.toDouble / Commits, "count")
      // the traced run's primary op: one more slice appended to a scratch table
      val (scratch, _) = ingest("profile", commits = 1)
      var n = 0
      layers.primary(1) {
        n += 1
        run.op(s"append p$n")(IcebergLite.append(spark, slice(n % Commits), scratch, Seq("doc_id"), s"p$n"))(_ => true)
      }
      // the same K commits at local[1], for the scaling efficiency
      spark = run.session(1)
      val (_, commitWalls1) = ingest("serial")
      layers.finish(scaling = commitWalls1.sum / commitWalls.sum / 4)
    }
  }
}
