package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM. It writes the raw
  * samples (set-up times, every pass and operation, the context
  * sentinels and, when traced, the per-layer counters) as one JSON file;
  * `run.py` turns them into metrics.
  *
  * A run: set up `Setups` times (session start, warm-up, input
  * generation; every set-up but the last is torn down), then one cold
  * pass, then steady passes until `seconds` have passed since the cold
  * pass began and at least three steady passes are done. With
  * tracing on, steady passes alternate untraced and traced, so the run
  * itself gives the tracing overhead.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = o.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val dataDir = need("data")
    val work = Paths.get(need("work"))
    val cores = o.getOrElse("cores", "4").toInt
    // steady values are per-operation minima over at least three untraced
    // passes; a traced run adds two traced passes in between
    val minSteady = if (traced) 5 else 3
    val refs = readRefs(Paths.get(need("refs")))

    val loadStart = loadAvg()
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: Prepared = null
    for (i <- 0 until Setups) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.range(1000).selectExpr("sum(id)").collect()
      Files.createDirectories(work.resolve("input"))
      prepared = wl.prepare(spark, seed, dataDir, work.resolve("input"),
        refs)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < Setups - 1) spark.stop()
    }
    calibrate(spark) // the first run of the plan compiles it
    val calStart = calibrate(spark)

    val ops = prepared.ops
    val trace = new Trace(spark)
    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    passes += pass(spark, ops, cold = true, None)
    var steady = 0
    while (elapsed < seconds || steady < minSteady) {
      val tr = if (traced && steady % 2 == 1) Some(trace) else None
      tr.foreach(_.attach())
      passes += pass(spark, ops, cold = false, tr)
      tr.foreach(_.detach())
      steady += 1
    }
    val check = prepared.finalCheck.map(c =>
      scala.util.Try(c()).fold(e => Some(e.toString.take(200)), identity))
    val probeS =
      if (traced && ops.exists(_.module == "streaming"))
        streamProbe(spark, work)
      else 0.0
    val calEnd = calibrate(spark)
    val loadEnd = loadAvg()
    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString,
      "cores" -> cores.toString, "traced" -> traced.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "passes" -> Json.arr(passes),
      "stream_probe_s" -> Json.num(probeS),
      "final_check" -> check.map { err => Json.obj(
        ("ok" -> err.isEmpty.toString) +:
          err.map(m => "error" -> Json.str(m)).toSeq: _*) }
        .getOrElse("null"),
      "input_docs" -> prepared.inputDocs.toString,
      "context" -> Json.obj(
        "loadavg_1m" -> Json.obj("start" -> Json.num(loadStart),
          "end" -> Json.num(loadEnd)),
        "calibration_s" -> Json.obj("start" -> Json.num(calStart),
          "end" -> Json.num(calEnd))))
    Files.write(Paths.get(need("out")), json.getBytes(UTF_8))
  }

  /** Runs every op once; with a trace, records each op's layer deltas. */
  private def pass(spark: SparkSession, ops: Seq[Op], cold: Boolean,
      trace: Option[Trace]): String = {
    trace.foreach(_.resetStoragePeak())
    val opJson = ops.map { op =>
      val before = trace.map { t => t.drain(); t.peakStageShuffle = 0L;
        t.snapshot() }
      val w0 = System.currentTimeMillis()
      val c0 = processCpuNs()
      val (build, exec, err) = op.run()
      val cpu = (processCpuNs() - c0) / 1e9
      val w1 = System.currentTimeMillis()
      val residual = spark.sparkContext.getPersistentRDDs.size
      // as in graft.Bench: cached frames do not carry into the next op
      spark.catalog.clearCache()
      val layers = trace.map { t =>
        t.drain()
        val after = t.snapshot()
        val d = after.map { case (k, v) =>
          k -> (v - before.get.getOrElse(k, 0.0)) }
        Json.obj((d.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Json.num(v) } ++ Seq(
          "exec.driver_gap_s" -> Json.num(t.uncovered(w0, w1) / 1e3),
          "shuffle.peak_stage_mb" ->
            Json.num(t.peakStageShuffle / 1048576.0))): _*)
      }
      Json.obj(Seq(
        "name" -> Json.str(op.name), "module" -> Json.str(op.module),
        "build_s" -> Json.num(build), "exec_s" -> Json.num(exec),
        "cpu_s" -> Json.num(cpu),
        "ok" -> err.isEmpty.toString,
        "residual_rdds" -> residual.toString) ++
        err.map(e => "error" -> Json.str(e)) ++
        layers.map(l => "layers" -> l): _*)
    }
    val storageMb = trace.map(_.peakStorage / 1048576.0)
    Json.obj(Seq(
      "cold" -> cold.toString, "traced" -> trace.isDefined.toString,
      "ops" -> Json.arr(opJson),
      "heap_mb" -> Json.num(liveOldGenMb())) ++
      storageMb.map(s => "peak_storage_mb" -> Json.num(s)): _*)
  }

  /** CPU time of every thread of this JVM: Spark's task and driver
    * threads, the JIT and the collector.
    */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def session(cores: Int, work: Path): SparkSession = {
    val s = graft.core.Graft.configure(
      SparkSession.builder().master(s"local[$cores]")
        .appName("graft-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir",
          work.resolve("warehouse").toString),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation bytes in use right after a full collection: the heap
    * the run retains between passes (cached blocks, leaked frames). The
    * first collection lets Spark's ContextCleaner drop the blocks of
    * broadcasts and shuffles nothing references any more; the second one
    * frees them, so the figure does not depend on when the cleaner ran.
    */
  private def liveOldGenMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") ||
        p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed)
        .getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
  }

  /** Fixed CPU-bound query, as graft.Bench's calibration sentinel: its
    * time moves only with contention on the machine.
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("sum(xxhash64(id) % 1024)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      UTF_8).split("\\s+").head.toDouble).getOrElse(-1.0)

  /** One no-op file-stream query started, drained and stopped: the fixed
    * cost of a streaming query in this session.
    */
  private def streamProbe(spark: SparkSession, work: Path): Double = {
    import org.apache.spark.sql.types._
    val dir = work.resolve("stream-probe").toString
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("id", LongType)))
    def once(sink: String): Double = {
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema).parquet(dir)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.catalog.dropTempView(sink)
      (System.nanoTime() - t0) / 1e9
    }
    once("perfbench_probe_warm")
    once("perfbench_probe")
  }

  /** Reference fingerprints: `gate<TAB>fingerprint<TAB>origin` lines. */
  def readRefs(p: Path): Map[String, String] =
    Files.readAllLines(p, UTF_8).asScala.iterator
      .map(_.split("\t")).filter(_.length >= 2)
      .map(a => a(0) -> a(1)).toMap
}

/** Minimal JSON rendering for the raw-sample file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
