package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Gazetteer, Pipeline}
import graft.etl.{DictScanner, Extract}
import graft.fixtures.World
import graft.functions.GeoFunctions
import graft.model.{AdminPolygon, GazetteerRow}

/**
 * A workload's shape. Each operation geocodes one batch of pages with
 * `Pipeline.geocodePrepared` into the `noop` sink, or appends it as parquet
 * when `appendParquet`. Bulk workloads have one batch and repeat it.
 */
final case class Spec(name: String, dense: Boolean, pagesPerBatch: Int,
                      filesPerBatch: Int, batches: Int, samplePerOp: Int,
                      warmupOps: Int, appendParquet: Boolean)

object Spec {
  val all: Seq[Spec] = Seq(
    Spec("crawl_bulk", dense = false, pagesPerBatch = 32000, filesPerBatch = 16,
      batches = 1, samplePerOp = 200, warmupOps = 2, appendParquet = false),
    Spec("crawl_microbatch", dense = false, pagesPerBatch = 2000, filesPerBatch = 4,
      batches = 10, samplePerOp = 40, warmupOps = 3, appendParquet = true),
    Spec("reverse_dense", dense = true, pagesPerBatch = 12000, filesPerBatch = 16,
      batches = 1, samplePerOp = 100, warmupOps = 2, appendParquet = false))
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, genFp: String)

object Main {

  def main(args: Array[String]): Unit = {
    // explicit exit codes: Spark can leave non-daemon threads behind
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("genfp"))
    val spec = Spec.all.find(_.name == opts.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${spec.name}")
      .config("spark.sql.shuffle.partitions", "4")
      // fixed: the flagship plan is map-only, so adaptive execution only
      // adds re-planning barriers to every operation
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one input file per task, so the file count is the task count
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "4m")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val result = try new Run(spark, opts, spec, sessionS).run()
    finally spark.stop()
    // the result is the last line of standard output
    println(result)
    System.out.flush()
  }

  /** Writes the workload's input tables once per (workload, seed, generator
    * fingerprint); later runs with the same key reuse them. */
  def generate(spark: SparkSession, spec: Spec, seed: Long, dir: String,
               keys: Array[String], zipf: Gen.Zipf): Unit = {
    if (new File(s"$dir/_DONE").exists()) return
    val tmp = new File(dir + ".tmp")
    deleteRecursively(tmp)
    import spark.implicits._
    val bKeys = spark.sparkContext.broadcast(keys)
    val bZipf = spark.sparkContext.broadcast(zipf)
    val dense = spec.dense
    val kind = spec.name
    val perBatch = spec.pagesPerBatch
    // one job for every batch: each range partition lies inside one batch,
    // so batch b=k gets exactly filesPerBatch files
    spark.range(0L, perBatch.toLong * spec.batches, 1, spec.filesPerBatch * spec.batches)
      .map { i =>
        val text =
          if (dense) Gen.denseText(seed, i, bKeys.value, bZipf.value)
          else Gen.crawlText(seed, i, bKeys.value, bZipf.value)
        (Gen.page(kind, seed, i, text), i / perBatch)
      }
      .select($"_1.*", $"_2".as("b"))
      .write.partitionBy("b").parquet(tmp.getPath)
    bKeys.destroy()
    bZipf.destroy()
    if (!tmp.renameTo(new File(dir)))
      throw new IllegalStateException(s"cannot move generated inputs to $dir")
    new File(s"$dir/_DONE").createNewFile()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Prepared indexes of one set-up, with their sizes. */
final case class Indexes(gazetteer: Seq[GazetteerRow], polygons: Seq[AdminPolygon],
                         scanner: DictScanner, prep: Pipeline.Prepared,
                         top1Keys: Long, packedCells: Long)

/** Outcome of one timed operation; `seconds` is None when it failed. */
final case class OpResult(k: Int, traced: Boolean, seconds: Option[Double])

final class Run(spark: SparkSession, o: Opts, spec: Spec, sessionS: Double) {
  /** Successful timed operations a run needs for its medians, even when
    * they take longer than --seconds. */
  private val MinOps = 5
  /** Index set-ups per run; setup_s takes their median. One keeps runs
    * short: a second, warm set-up costs another 3.5-5 s, a tenth of a run. */
  private val SetupReps = 1
  /** Traced runs: rounds over the ladder prefixes, and parquet/noop rounds
    * of the sink measurement. */
  private val LadderRounds = 3
  private val SinkRounds = 1
  private val sc = spark.sparkContext
  private val tracer = new Tracer(o.trace)
  private val listener = new JobListener(tracer)
  private val catcher = new PlanCatcher
  private val cfg = Pipeline.Config(tileZ = Gen.TileZ)
  private val dataDir = s"${o.work}/data/${spec.name}-s${o.seed}-${o.genFp}"
  private val outDir = s"${o.work}/out/${spec.name}-s${o.seed}-${ProcessHandle.current.pid}"

  private var attempted = 0
  private var failed = 0
  private val hitCounts = mutable.HashMap.empty[Int, Long]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private def polygonRows(): Seq[AdminPolygon] =
    if (spec.dense) NestedWorld.polygons() else World.polygons(filler = Gen.CrawlPolygonFiller)

  private def batchDir(b: Int): String = s"$dataDir/b=$b"
  private def pages(b: Int): DataFrame = spark.read.parquet(batchDir(b))

  private lazy val keys: Array[String] = Gen.rankedKeys(Gen.gazetteer(), o.seed)
  private lazy val zipf = new Gen.Zipf(keys.length, Gen.ZipfExponent)
  private def text(i: Long): String =
    if (spec.dense) Gen.denseText(o.seed, i, keys, zipf) else Gen.crawlText(o.seed, i, keys, zipf)
  private def url(i: Long): String = Gen.url(spec.name, o.seed, i)

  private def sink(df: DataFrame): Unit =
    if (spec.appendParquet) df.write.mode("append").parquet(outDir)
    else df.write.format("noop").mode("overwrite").save()

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Gazetteer and polygon frames, the scanner trie and the materialised
    * `Pipeline.prepare`, as one set-up. */
  private def buildIndexes(): Indexes = {
    val gaz = tracer.span("setup.gazetteer")(Gen.gazetteer())
    val polys = tracer.span("setup.polygons")(polygonRows())
    val polyDF = Gazetteer.polygonsDF(spark, polys)
    val nameIdx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gaz))
    val cells = Gazetteer.polygonCellIndex(polyDF)
    val scanner = tracer.span("setup.trie") {
      val s = Gazetteer.scanner(gaz)
      s.scanTokens(Array("warm"))
      s
    }
    tracer.span("setup.prepare") {
      val prep = Pipeline.prepare(nameIdx, polyDF, cells, cfg)
      Indexes(gaz, polys, scanner, prep, prep.top1.count(), prep.packed.count())
    }
  }

  def run(): String = {
    new File(o.work).mkdirs()

    // set-up is the first Spark work of every run, so its cost does not
    // depend on whether the inputs were generated now or found cached
    var idx: Indexes = null
    val buildSecs = (0 until SetupReps).map { r =>
      if (idx != null) {
        idx.prep.top1.unpersist(true)
        idx.prep.packed.unpersist(true)
      }
      val t0 = System.nanoTime()
      idx = tracer.span("setup.indexes", s"setup$r")(buildIndexes())
      (System.nanoTime() - t0) / 1e9
    }

    tracer.span("setup.generate", "setup") {
      Main.generate(spark, spec, o.seed, dataDir, keys, zipf)
    }
    val reference = new Reference(idx.gazetteer, idx.polygons, idx.scanner, cfg.tileZ)

    val warmT0 = System.nanoTime()
    (0 until spec.warmupOps).foreach { k =>
      tracer.span("setup.warmup", s"warmup$k") {
        sink(Pipeline.geocodePrepared(spark, pages(k % spec.batches), idx.prep, idx.scanner, cfg))
      }
    }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + Stats.median(buildSecs) + warmupS
    System.err.println(f"perfbench setup: session $sessionS%.3f s, index builds " +
      buildSecs.map(s => f"$s%.3f").mkString("[", ", ", "]") + f" s, warm-up $warmupS%.3f s")

    // timed operations; when tracing, untraced and traced operations
    // alternate so the difference between them is the tracing overhead
    val results = mutable.ArrayBuffer.empty[OpResult]
    val gc0 = gcMs()
    val loopT0 = System.nanoTime()
    var k = 0
    def ok = results.count(_.seconds.nonEmpty)
    while (((System.nanoTime() - loopT0) / 1e9 < o.seconds || ok < MinOps) && k < 500 &&
           !(k >= MinOps && ok == 0)) {
      results += timedOp(k, traced = o.trace && k % 2 == 1, idx, reference)
      k += 1
    }

    val pagesPerOp = spec.pagesPerBatch.toDouble
    val secs = results.flatMap(_.seconds).toSeq
    if (!o.trace) {
      val p50 = if (secs.isEmpty) 0.0 else Stats.median(secs)
      metric("pages_per_s", if (p50 > 0) pagesPerOp / p50 else 0.0, "pages/s")
      metric("batch_s_p50", p50, "s")
      val tail = Stats.tail(secs)
      metric("setup_s", setupS, "s")
      System.err.println(s"perfbench ${spec.name}: ${secs.size} timed operations of " +
        s"${spec.pagesPerBatch} pages; tail = " +
        tail.map { case (p, v) => f"p$p ($v%.4f s)" }.getOrElse("none (fewer than 11 samples)") +
        "; seconds " + secs.map(x => f"$x%.3f").mkString("[", ", ", "]") +
        f"; JVM GC ${(gcMs() - gc0) / 1e3}%.2f s")
    } else {
      layerMetrics(idx, results.toSeq, sessionS, Stats.median(buildSecs), warmupS)
      tracer.write(java.nio.file.Paths.get(s"${o.work}/traces/${spec.name}-s${o.seed}.jsonl"))
      System.err.println(s"perfbench trace: ${tracer.spans.size} spans written to " +
        s"${o.work}/traces/${spec.name}-s${o.seed}.jsonl")
    }
    Main.deleteRecursively(new File(outDir))
    metrics.foreach { case (n, (v, u)) => System.err.println(f"perfbench metric $n%-34s $v%.6g $u") }

    val correct = failed == 0 && attempted > 0
    val ms = metrics.map { case (n, (v, u)) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** One timed operation: geocode a batch into the sink, then check a seeded
    * sample of its pages against the reference and its hit count against
    * earlier operations on the same batch. A failed operation adds no time. */
  private def timedOp(k: Int, traced: Boolean, idx: Indexes, reference: Reference): OpResult = {
    attempted += 1
    val b = k % spec.batches
    val lo = b.toLong * spec.pagesPerBatch
    val rnd = new scala.util.Random(o.seed * 1000003L + k)
    val ids = Iterator.continually(lo + rnd.nextInt(spec.pagesPerBatch))
      .distinct.take(spec.samplePerOp).toSeq
    val obs = Observation(s"check$k")
    val op = s"op$k"
    def traceSpan[T](name: String)(body: => T): T =
      if (traced) tracer.span(name, op)(body) else body
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(catcher)
    }
    sc.setLocalProperty("perfbench.op", op)
    try {
      val t0 = System.nanoTime()
      traceSpan("op") {
        val df = Pipeline.geocodePrepared(spark, pages(b), idx.prep, idx.scanner, cfg)
          .observe(obs, count(lit(1)).as("n"), Check.sampledHits(ids.map(url)).as("s"))
        if (traced) tracer.span("plan")(df.queryExecution.executedPlan)
        traceSpan("action") {
          if (traced) listener.bindOp(op, tracer.current, op)
          sink(df)
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val problems = traceSpan("check") {
        val row = Await.result(obs.future, 60.seconds)
        val n = row.getAs[Long]("n")
        val actual = Check.fromRows(row.getAs[scala.collection.Seq[Row]]("s").toSeq)
        val expected = reference.hits(ids.map(i => url(i) -> text(i)))
        val diff = Check.diff(expected, actual)
        val prev = hitCounts.getOrElseUpdate(b, n)
        diff ++ (if (prev != n) Seq(s"hit count $n differs from $prev in an earlier pass") else Nil)
      }
      if (problems.nonEmpty) {
        failed += 1
        System.err.println(s"perfbench $op FAILED output check (${problems.size} differences):")
        problems.take(5).foreach(p => System.err.println("  " + p))
        OpResult(k, traced, None)
      } else OpResult(k, traced, Some(sec))
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench $op FAILED: $e")
        OpResult(k, traced, None)
    } finally {
      sc.setLocalProperty("perfbench.op", null)
      if (traced) {
        ListenerBusAccess.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(catcher)
        catcher.drainAll().lastOption.foreach(p => tracedOps += op -> PlanMetrics.of(p))
      }
    }
  }

  private val tracedOps = mutable.ArrayBuffer.empty[(String, PlanStats)]

  // ---- traced run: per-layer metrics --------------------------------------

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def layerMetrics(idx: Indexes, results: Seq[OpResult], sessionS: Double,
                           indexS: Double, warmupS: Double): Unit = {
    metric("setup.session_s", sessionS, "s")
    metric("setup.indexes_s", indexS, "s")
    metric("setup.warmup_s", warmupS, "s")
    metric("prepare.top1_keys", idx.top1Keys.toDouble, "count")
    metric("prepare.packed_cells", idx.packedCells.toDouble, "count")

    // tracing overhead: traced minus untraced operations of this run
    val untraced = results.filter(!_.traced).flatMap(_.seconds)
    val traced = results.filter(_.traced).flatMap(_.seconds)
    val (tMed, uMed) =
      if (untraced.nonEmpty && traced.nonEmpty) (Stats.median(traced), Stats.median(untraced))
      else (0.0, 1.0)
    metric("trace.overhead_s", tMed - uMed, "s")
    metric("trace.overhead_ratio", tMed / uMed - 1, "ratio")

    // driver and scheduling, per traced operation (medians)
    val tracedNames = results.filter(r => r.traced && r.seconds.nonEmpty).map(r => s"op${r.k}")
    val spans = tracer.spans
    def opSpan(op: String) = spans.find(s => s.trace == op && s.name == "op")
    def per(f: OpAccount => Double): Double =
      Stats.median(tracedNames.flatMap(n => Option(listener.accounts.get(n)).map(f)).padTo(1, 0.0))
    val planS = tracedNames.flatMap(n => spans.find(s => s.trace == n && s.name == "plan"))
      .map(s => (s.end - s.start) / 1e9)
    metric("driver.plan_s", if (planS.isEmpty) 0.0 else Stats.median(planS), "s")
    val idle = tracedNames.flatMap { n =>
      for (s <- opSpan(n); a <- Option(listener.accounts.get(n)))
        yield (s.end - s.start - Tracer.covered(a.stageIntervals.toSeq, s.start, s.end)) / 1e9
    }
    metric("driver.idle_s", if (idle.isEmpty) 0.0 else Stats.median(idle), "s")
    metric("driver.jobs", per(_.jobs.toDouble), "count")
    metric("driver.stages", per(_.stages.toDouble), "count")
    metric("driver.tasks", per(_.tasks.toDouble), "count")
    metric("driver.task_run_s", per(_.taskRunMs / 1e3), "s")
    metric("driver.task_cpu_s", per(_.taskCpuNs / 1e9), "s")
    metric("driver.gc_s", per(_.gcMs / 1e3), "s")
    val plans = tracedOps.filter { case (n, _) => tracedNames.contains(n) }.map(_._2).toSeq
    def planMedian(f: PlanStats => Double) = Stats.median(plans.map(f).padTo(1, 0.0))
    metric("scan.bytes_read", planMedian(_.scanBytes), "bytes")
    metric("scan.time_s", planMedian(_.scanS), "s")
    metric("forward.bcast_build_s", planMedian(_.fwdBuildS), "s")
    metric("forward.bcast_mb", planMedian(_.fwdMb), "MB")
    metric("reverse.bcast_build_s", planMedian(_.revBuildS), "s")
    metric("reverse.bcast_mb", planMedian(_.revMb), "MB")

    // the ladder, round-robin over prefixes so drift hits every layer alike
    val input = pages(0)
    val prefixes = tracer.span("ladder.build", "ladder")(
      Ladder.prefixes(spark, input, idx.prep, idx.scanner, cfg))
    val times = prefixes.map(_._1 -> mutable.ArrayBuffer.empty[Double]).toMap
    (0 until LadderRounds).foreach { r =>
      prefixes.foreach { case (name, df) =>
        times(name) += tracer.span(s"ladder.$name", s"ladder$r")(timeNoop(df))
      }
    }
    val med = Ladder.Names.map(n => Stats.median(times(n).toSeq))
    Ladder.Names.zipWithIndex.foreach { case (n, i) =>
      metric(s"ladder.${n}_s", if (i == 0) med(0) else med(i) - med(i - 1), "s")
    }
    attempted += 1
    val (ladderDigest, flagshipDigest) = tracer.span("ladder.digest", "ladder") {
      (Ladder.digest(prefixes.last._2),
        Ladder.digest(Pipeline.geocodePrepared(spark, input, idx.prep, idx.scanner, cfg)))
    }
    if (ladderDigest != flagshipDigest) {
      failed += 1
      System.err.println(s"perfbench ladder FAILED: last prefix digest $ladderDigest " +
        s"differs from geocodePrepared $flagshipDigest")
    }

    tracer.span("counts", "counts")(layerCounts(idx, input))

    // sink: the same batch written to parquet minus written to noop
    tracer.span("sink", "sink") {
      val df = Pipeline.geocodePrepared(spark, input, idx.prep, idx.scanner, cfg)
      val dir = s"$outDir-sink"
      val pq = (0 until SinkRounds).map { r =>
        val d = new File(s"$dir/$r")
        val t0 = System.nanoTime()
        df.write.parquet(d.getPath)
        val s = (System.nanoTime() - t0) / 1e9
        timeNoop(df) -> s
      }
      val parts = Option(new File(s"$dir/0").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-"))
      metric("sink.write_s", Stats.median(pq.map(_._2)) - Stats.median(pq.map(_._1)), "s")
      metric("sink.bytes", parts.map(_.length).sum.toDouble, "bytes")
      metric("sink.files", parts.size.toDouble, "count")
      Main.deleteRecursively(new File(dir))
    }

    tracer.span("kernels", "kernels") {
      val texts = (0L until math.min(spec.pagesPerBatch, 2000)).map(text)
      val points = texts.flatMap(t =>
        Extract.extractCoords(t).map(m => (m.lon.doubleValue, m.lat.doubleValue)))
      val r = Kernels.run(texts, points, idx.polygons, idx.gazetteer, idx.scanner)
      metric("kernel.extract_ascii_mb_per_s", r.asciiMbPerS, "MB/s")
      metric("kernel.extract_slow_mb_per_s", r.slowMbPerS, "MB/s")
      metric("kernel.cell_encode_ns", r.cellEncodeNs, "ns")
      metric("kernel.raycast_ns_per_edge", r.raycastNsPerEdge, "ns")
      metric("kernel.trie_build_ms", r.trieBuildMs, "ms")
    }
    metric("trace.spans", tracer.spans.size.toDouble, "count")
    metric("jvm.peak_rss_mb", Main.peakRssMb(), "MB")
  }

  /** One untimed pass with Observation counters at each layer boundary. */
  private def layerCounts(idx: Indexes, input: DataFrame): Unit = {
    val pObs, mObs, fObs, rObs, tObs = Observation()
    def flag(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val pagesIn = input.observe(pObs, count(lit(1)).as("pages"),
      flag(col("text").rlike("[^\\x00-\\x7F]")).as("slow"))
    val mentions = Extract.mentions(spark, pagesIn, idx.scanner)
      .observe(mObs, flag(col("kind") === "name").as("name"),
        flag(col("kind") === "coord").as("coord"))
    val fwd = mentions.join(broadcast(idx.prep.top1),
        mentions("norm") === idx.prep.top1("gaz_key"), "left")
      .observe(fObs, flag(col("kind") === "name" && col("g_place_id").isNotNull).as("resolved"))
    val isCoord = col("kind") === "coord"
    val nCands = coalesce(size(col("cands")), lit(0))
    val accepted = coalesce(size(filter(col("cands"), p => GeoFunctions.rayCast(col("lon"),
      col("lat"), p.getField("ring_offsets"), p.getField("ring_lons"),
      p.getField("ring_lats")))), lit(0))
    val rev = fwd
      .withColumn("cell", when(isCoord,
        GeoFunctions.cellId(col("lon"), col("lat"), lit(graft.geo.CellIndex.FineLevel))))
      .join(broadcast(idx.prep.packed), Seq("cell"), "left")
      .observe(rObs, sum(when(isCoord, nCands)).as("cands"),
        max(when(isCoord, nCands)).as("cands_max"),
        sum(when(isCoord, accepted)).as("accepted"))
      .withColumn("__rev", graft.engine.Reverse.bestPolygon(col("cands"), col("lon"), col("lat")))
      .observe(tObs, flag(isCoord && col("__rev").isNotNull).as("resolved"))
    rev.drop("cands").write.format("noop").mode("overwrite").save()
    def get(obs: Observation) = Await.result(obs.future, 60.seconds)
    val (p, m, f, r, t) = (get(pObs), get(mObs), get(fObs), get(rObs), get(tObs))
    def l(row: Row, c: String) = Option(row.getAs[Any](c)).map(_.toString.toDouble).getOrElse(0.0)
    val slow = l(p, "slow")
    metric("extract.pages_ascii", l(p, "pages") - slow, "count")
    metric("extract.pages_slow", slow, "count")
    val names = l(m, "name")
    val coords = l(m, "coord")
    metric("extract.mentions_name", names, "count")
    metric("extract.mentions_coord", coords, "count")
    metric("forward.resolved", l(f, "resolved"), "count")
    metric("forward.resolve_ratio", if (names > 0) l(f, "resolved") / names else 0.0, "ratio")
    val cands = l(r, "cands")
    metric("reverse.cands_per_coord_mean", if (coords > 0) cands / coords else 0.0, "count")
    metric("reverse.cands_per_coord_max", l(r, "cands_max"), "count")
    metric("reverse.pip_accept_ratio", if (cands > 0) l(r, "accepted") / cands else 0.0, "ratio")
    metric("reverse.resolved", l(t, "resolved"), "count")
    metric("reverse.resolve_ratio", if (coords > 0) l(t, "resolved") / coords else 0.0, "ratio")
    val maxTile = Pipeline.geocodePrepared(spark, input, idx.prep, idx.scanner, cfg)
      .groupBy("tile_x", "tile_y").count().agg(max("count")).head()
    metric("tiler.max_hits_per_tile", Option(maxTile.get(0)).map(_.toString.toDouble)
      .getOrElse(0.0), "count")
  }
}
