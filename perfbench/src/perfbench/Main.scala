package perfbench

import graft.corpus.CorpusDerive
import graft.pipeline.Extraction
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark program. Usually launched by `perfbench/run.py`, which
  * builds it, sizes the JVM and turns the raw result this writes into the
  * reported metrics:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --data SF_DIR --raw OUT.json
  *   perfbench.Main --selftest
  *   perfbench.Main --train 1 --cores C --work DIR --data SF_DIR
  */
object Main {
  val SetupReps = 3
  val TracedPasses = 2
  /** Docs per workload input, sized so one pass takes ~0.5-1.5 s on 4 cores. */
  val PipelineDocs = 50000
  val TableDocs = 20000
  val TableBuckets = 16
  /** Docs per input of the training run. */
  val TrainDocs = 2000
  val SampleDocs = 4000
  val SaltBuckets = 64

  def session(threads: Int, work: String, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) { SelfTest.run(); return }
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("train")) { train(a("cores").toInt, a("work"), a("data")); return }
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val files = cores * 4
    Trace.start(s"$name-$seed", trace)
    val w = workload(name, seed, work, files, a("data"), trace)
    var attempted = 0L
    val failures = ArrayBuffer.empty[String]
    def pass(spark: SparkSession): Double = {
      val (f, wall) = timed(w.pass(spark))
      attempted += w.opsPerPass
      failures ++= f
      wall
    }
    def after(spark: SparkSession): Unit = {
      val (ops, f) = w.afterPass(spark, trace)
      attempted += ops
      failures ++= f
    }

    // A full collection between passes, outside their walls: each pass
    // starts from a compacted heap, so neither its wall nor the peak RSS
    // depends on how far earlier passes' garbage had filled the old space.
    def settle(): Unit = System.gc()

    val referenceWall = timed(w.reference())._2
    var spark: SparkSession = null
    val setupWalls = (0 until SetupReps).map { rep =>
      settle()
      timed(Trace.span("setup") {
        if (spark != null) spark.stop()
        spark = Trace.span("setup.session")(session(cores, work, cores * w.partitionsPerCore))
        w.prepare(spark, rep)
        Trace.span("setup.first_pass")(pass(spark))
        after(spark)
      })._2
    }
    // Warm passes until the walls stop falling: the JIT goes on compiling
    // for many passes, and for longer on a busy host. Falling: one of the
    // last three passes beats the best before them by more than 3 %.
    val warmWalls = ArrayBuffer.empty[Double]
    val warmFrom = System.nanoTime()
    def falling: Boolean = warmWalls.size < 4 ||
      warmWalls.takeRight(3).min < 0.97 * warmWalls.dropRight(3).min
    while (w.warmPasses > 0 && (warmWalls.size < w.warmPasses ||
           (falling && System.nanoTime() - warmFrom < w.warmCapSeconds * 1e9))) {
      settle()
      warmWalls += Trace.span("warm_pass")(pass(spark))
      after(spark)
    }
    w.startTimed()
    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.") }
    val passWalls = ArrayBuffer.empty[Double]
    val cpuSeconds = ArrayBuffer.empty[Double]
    var layers = Map.empty[String, Double]

    if (!trace) {
      val t0 = System.nanoTime()
      while (passWalls.size < w.minPasses || System.nanoTime() - t0 < seconds * 1e9) {
        settle()
        val c0 = cpuNs()
        passWalls += pass(spark)
        cpuSeconds += (cpuNs() - c0) / 1e9
        after(spark)
      }
    } else {
      val measuredFrom = System.nanoTime()
      layers ++= Layers.kernel(Inputs.documents(seed, SampleDocs))
      layers ++= Layers.html(Inputs.htmlIds(seed, SampleDocs))
      // untraced and traced passes alternate; the listener and spans are
      // on only for the traced ones, which give the per-pass counters
      val tally = new TaskTally
      val traced = ArrayBuffer.empty[Double]
      var gc = 0.0
      val tasks = ArrayBuffer.empty[TaskTally.Task]
      for (_ <- 0 until TracedPasses) {
        val c0 = cpuNs()
        passWalls += Trace.paused(pass(spark))
        cpuSeconds += (cpuNs() - c0) / 1e9
        after(spark)
        spark.sparkContext.addSparkListener(tally)
        val g0 = gcSeconds()
        traced += Trace.span("pass")(pass(spark))
        gc += gcSeconds() - g0
        tally.quiesce()
        spark.sparkContext.removeSparkListener(tally)
        tasks ++= tally.drain()
        after(spark)
      }
      val k = TracedPasses.toDouble
      val durations = tasks.map(_.durationMs.toDouble).toSeq
      layers ++= Map(
        "trace.overhead_ratio" -> Stats.median(traced.toSeq) / Stats.median(passWalls.toSeq),
        "pipeline.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / k / 1e6,
        "pipeline.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / k / 1e6,
        "pipeline.shuffle_bytes_per_doc" -> tasks.map(_.shuffleWriteBytes).sum / k / w.items,
        "pipeline.shuffle_write_time_s" -> tasks.map(_.shuffleWriteNs).sum / k / 1e9,
        "pipeline.shuffle_fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / k / 1e3,
        "pipeline.gc_s" -> gc / k,
        "pipeline.spill_mb" -> tasks.map(_.spillBytes).sum / k / 1e6,
        "pipeline.task_p50_ms" -> (if (durations.isEmpty) 0.0 else Stats.median(durations)),
        "pipeline.task_max_ms" -> (if (durations.isEmpty) 0.0 else durations.max))
      w match {
        case d: DocPipeline =>
          layers ++= pipelineLayers(spark, d)
          layers += "pipeline.scan_amplification" ->
            tasks.map(_.recordsRead).sum / k / w.items
        case t: TableWrite =>
          def med(n: String) = Stats.median(Trace.walls(n, measuredFrom))
          layers ++= Map(
            "tableio.write_s" -> med("tableio.write"),
            "tableio.read_committed_s" -> med("tableio.read_committed"),
            "tableio.resume_s" -> Stats.median(t.resumeWalls.toSeq),
            "tableio.files_written" -> t.filesWritten.toDouble,
            "tableio.bytes_written_mb" -> t.dataBytes / 1e6,
            "tableio.manifests" -> t.manifests.toDouble,
            "tableio.bytes_stored_per_doc" -> t.storedBytes.toDouble / t.items)
        case q: QuerySuite =>
          val walls = q.runs.flatMap(_.map(_._2)).toSeq
          val family = q.queries.toMap
          layers ++= q.queries.map(_._2).distinct.map { f =>
            s"suite.${f}_s" -> Stats.median(q.runs.map(_.collect {
              case (n, wall, _, _) if family(n) == f => wall }.sum).toSeq)
          }.toMap
          layers ++= Map(
            "suite.query_wall_p50_s" -> Stats.quantile(walls, 0.5),
            "suite.query_wall_p90_s" -> Stats.quantile(walls, 0.9),
            "suite.queries_timed" -> walls.size.toDouble)
      }
      if (w.isInstanceOf[DocPipeline]) {
        // the north rule's N -> nproc*N scaling, on the same input and plan
        spark.stop()
        spark = session(1, work, cores * w.partitionsPerCore)
        val one = (0 until TracedPasses).map(_ => pass(spark))
        layers += "pipeline.scaling_eff" ->
          Stats.median(one) / (cores * Stats.median(passWalls.toSeq))
      }
    }

    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "items" -> w.items,
      "reference_s" -> referenceWall,
      "setup_s" -> setupWalls,
      "warm_s" -> warmWalls.toSeq,
      "pass_s" -> passWalls.toSeq,
      "cpu_s" -> cpuSeconds.toSeq,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "inputs" -> w.inputs,
      "detail" -> w.detail,
      "layers" -> layers,
      "spans" -> Trace.summary.map { case (n, (c, total, self)) =>
        n -> Map("count" -> c, "total_s" -> total, "self_s" -> self) },
      "manifest" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "conf" -> conf.toSeq.sortBy(_._1).toMap))
    Files.writeString(Paths.get(a("raw")), out)
    if (trace) Files.writeString(Paths.get(a("raw") + ".spans.json"), Trace.json)
    spark.stop()
  }

  /** Workload `name`; `docs` overrides its input size (the suite has none). */
  private def workload(name: String, seed: Long, work: String, files: Int, data: String,
                       trace: Boolean, docs: Option[Int] = None): Workload = name match {
    case "doc_pipeline" => new DocPipeline(seed, docs.getOrElse(PipelineDocs), work, files)
    case "table_write" =>
      new TableWrite(seed, docs.getOrElse(TableDocs), work, files, TableBuckets)
    case "query_suite" => new QuerySuite(seed, data, trace)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** One checked pass of every workload on small inputs, so the JVM loads
    * the classes the measured runs load; `run.py` dumps them into the class
    * data sharing archive. Nothing is measured.
    */
  private def train(cores: Int, work: String, data: String): Unit = {
    val spark = session(cores, work, cores)
    val failures = Seq("doc_pipeline", "table_write", "query_suite").flatMap { n =>
      val w = workload(n, 1, s"$work/$n", cores, data, trace = true, Some(TrainDocs))
      w.reference()
      w.prepare(spark, 0)
      w.pass(spark) ++ w.afterPass(spark, traced = true)._2
    }
    spark.stop()
    require(failures.isEmpty, failures.mkString("; "))
  }

  /** Stage sweep through the engine's `spark.graft.stages` gate, plus the
    * boundary-sketch pass on its own.
    */
  private def pipelineLayers(spark: SparkSession, d: DocPipeline): Map[String, Double] = {
    import spark.implicits._
    def build() = Extraction.pipeline(CorpusDerive.derive(spark, d.docs.dir))
    def sketch() = Extraction.sampleKeys(CorpusDerive.derive(spark, d.docs.dir), SaltBuckets).length
    val stageWalls = Extraction.Stages.map { st =>
      spark.conf.set(Extraction.StagesConf, st)
      val walls = (0 until TracedPasses).map { _ =>
        timed(Trace.span(s"pipeline.stage_$st") {
          build().mapPartitions { it =>
            var c = 0L
            it.foreach(d => c += 1 + d.spans.size + d.markdown.length)
            Iterator.single(c)
          }.collect().sum
        })._2
      }
      st -> Stats.median(walls)
    }.toMap
    spark.conf.unset(Extraction.StagesConf)
    val sketches = (0 until TracedPasses).map(_ => timed(Trace.span("pipeline.sketch")(sketch())))
    val sketchS = Stats.median(sketches.map(_._2))
    Map(
      "pipeline.stage_scan_s" -> stageWalls("scan"),
      "pipeline.stage_kernel_s" -> stageWalls("kernel"),
      "pipeline.stage_route_s" -> stageWalls("route"),
      "pipeline.stage_all_s" -> stageWalls("all"),
      "pipeline.kernel_self_s" -> (stageWalls("kernel") - stageWalls("scan")),
      "pipeline.exchange_self_s" -> (stageWalls("route") - stageWalls("kernel") - sketchS),
      "pipeline.render_self_s" -> (stageWalls("all") - stageWalls("route")),
      "pipeline.sketch_s" -> sketchS,
      "pipeline.sketch_keys" -> sketches.head._1.toDouble)
  }
}
