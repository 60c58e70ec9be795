package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.json4s._

/** The benchmark's entry point: one workload, one seed, one fresh JVM.
  *
  * A single client thread issues calls in a closed loop. The run sets up
  * (session, seeded inputs and cache fill, one checked warm-up pass), then
  * runs a fixed number of passes over the workload's calls with tracing
  * off. A traced run (`--trace 1`) then runs the same passes again with
  * spans and listeners on and reports per-layer metrics. The last stdout
  * line is the result record. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String,
                        outDir: String, fixtures: String, expected: String, finalMetrics: Seq[String])

  final case class CallRec(pass: Int, name: String, layer: String, start: Long, end: Long,
                           error: Option[String]) {
    def seconds: Double = (end - start) / 1e9
    def ok: Boolean = error.isEmpty
  }

  final case class Phase(calls: Seq[CallRec], wallS: Double, cpuS: Double, gcS: Double, gcPauses: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", need("work-dir"), need("out-dir"), need("fixtures"),
      need("expected"),
      m.get("final-metrics").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def session(a: Args, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "tensor_batch" => new TensorBatch(spark, a.seed)
    case "volume_shuffle" => new VolumeShuffle(spark, a.seed)
    case "query_mix" => new QueryMix(spark, a.seed, a.fixtures, QueryMix.readExpected(a.expected))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(a, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val status = try run(spark, a, cores, t0, sessionS) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(status)
  }

  def runCall(c: Call, pass: Int, tracer: Tracer, sc: SparkContext): CallRec = {
    sc.setLocalProperty(SparkProbe.CallKey, s"$pass:${c.name}")
    val start = tracer.now()
    val err =
      try { tracer.span(c.name, c.layer)(c.run()); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}") }
    val end = tracer.now()
    sc.setLocalProperty(SparkProbe.CallKey, null)
    CallRec(pass, c.name, c.layer, start, end, err)
  }

  def timed(w: Workload, passes: Int, tracer: Tracer, sc: SparkContext): Phase = {
    val recs = ArrayBuffer[CallRec]()
    val (cpu0, gc0, gcn0) = (Jvm.cpuNanos(), Jvm.gcMillis(), Jvm.gcCount())
    val w0 = System.nanoTime()
    tracer.span("timed", "harness") {
      (0 until passes).foreach { p =>
        tracer.span(s"pass$p", "harness")(w.pass(p).foreach(c => recs += runCall(c, p, tracer, sc)))
      }
    }
    val wall = (System.nanoTime() - w0) / 1e9
    Phase(recs.toSeq, wall, (Jvm.cpuNanos() - cpu0) / 1e9, (Jvm.gcMillis() - gc0) / 1e3,
      Jvm.gcCount() - gcn0)
  }

  def callJson(c: CallRec): JValue = Json.obj(
    "pass" -> Json.num(c.pass.toLong), "name" -> Json.str(c.name), "layer" -> Json.str(c.layer),
    "s" -> (if (c.ok) Json.num(c.seconds) else JNull),
    "error" -> c.error.fold[JValue](JNull)(Json.str))

  def metric(v: Double, unit: String): JValue = Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))

  def run(spark: SparkSession, a: Args, cores: Int, t0: Long, sessionS: Double): Int = {
    val sc = spark.sparkContext
    val w = workload(a, spark)
    val quiet = new Tracer("setup", enabled = false)
    val warmErrors = ArrayBuffer[CallRec]()
    val inputS = Par.seconds(w.prepare())
    // the expected outputs and the host probe are the benchmark's own work:
    // setup_s leaves them out
    val referenceS = Par.seconds(w.reference())
    val probe0 = System.nanoTime()
    val hostPre = Host.record(spark, Host.effectiveCores(cores))
    val probeS = (System.nanoTime() - probe0) / 1e9
    // warm-up ends with a GC so the timed phase does not collect its garbage
    val warmS = Par.seconds {
      w.pass(-1).foreach { c =>
        val rec = runCall(c, -1, quiet, sc)
        if (!rec.ok) warmErrors += rec
      }
      System.gc()
    }
    val mainToFirstCallS = (System.nanoTime() - t0) / 1e9
    val setupS = mainToFirstCallS - referenceS - probeS
    val mainStartMs = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L
    val jvmToMainS = (mainStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val passes = w.passes(a.seconds)
    val phase = timed(w, passes, quiet, sc)
    // the first GC hands unreachable RDDs, shuffles and broadcasts to
    // Spark's ContextCleaner; their blocks are only released after it runs
    System.gc()
    val oneGcMb = Jvm.heapUsedBytes() / 1048576.0
    Thread.sleep(300)
    System.gc()
    val retainedMb = Jvm.heapUsedBytes() / 1048576.0
    val hostPost = Host.record(spark, Host.effectiveCores(cores))

    val okTimes = phase.calls.filter(_.ok).map(_.seconds)
    val tail = Stats.tail(phase.calls.map(c => if (c.ok) c.seconds else Double.PositiveInfinity))
    val failedCalls = phase.calls.count(!_.ok)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", phase.wallS, "s"),
      ("call_p50_s", if (okTimes.isEmpty) Double.NaN else Stats.median(okTimes), "s"),
      ("call_tail_s", tail.map(_.value).getOrElse(Double.NaN), "s"),
      ("cpu_s", phase.cpuS, "s"),
      ("retained_heap_mb", retainedMb, "MiB"))
    val failedFrac = failedCalls.toDouble / phase.calls.length

    val traced = if (a.trace) Some(Traced.run(spark, w, passes, a, phase)) else None
    val allCalls = phase.calls ++ traced.toSeq.flatMap(_.phase.calls)
    val attempted = allCalls.length
    val failed = allCalls.count(!_.ok)
    val correct = failed == 0 && warmErrors.isEmpty

    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val record = Json.obj(
      "run" -> Json.str(runId),
      "workload" -> Json.str(w.name), "seed" -> Json.num(a.seed), "seconds" -> Json.num(a.seconds.toLong),
      "passes" -> Json.num(passes.toLong), "client" -> Json.str("closed loop, 1 client thread"),
      "sizes" -> JObject(w.sizes.toList),
      "host_before" -> hostPre, "host_after" -> hostPost,
      "setup" -> Json.obj(
        "session_s" -> Json.num(sessionS),
        "inputs_s" -> Json.num(inputS),
        "warmup_s" -> Json.num(warmS),
        "reference_s_not_in_setup" -> Json.num(referenceS),
        "host_probe_s_not_in_setup" -> Json.num(probeS),
        "main_to_first_call_s" -> Json.num(mainToFirstCallS),
        "jvm_start_to_main_s" -> Json.num(jvmToMainS),
        "warmup_errors" -> Json.arr(warmErrors.map(callJson))),
      "end_to_end" -> JObject((endToEnd.map { case (n, v, u) => n -> metric(v, u) } :+
        ("failed_frac" -> metric(failedFrac, "ratio"))).toList),
      "call_tail" -> Json.obj(
        "percentile" -> Json.num(tail.map(_.percentile).getOrElse(Double.NaN)),
        "calls" -> Json.num(phase.calls.length.toLong), "beyond" -> Json.num(10L)),
      "heap_after_first_gc_mb" -> Json.num(oneGcMb),
      "gc" -> Json.obj("timed_gc_s" -> Json.num(phase.gcS), "timed_gc_pauses" -> Json.num(phase.gcPauses)),
      "calls" -> Json.arr(phase.calls.map(callJson)),
      "share_of_wall" -> JObject(phase.calls.filter(_.ok).groupBy(_.name).toList.sortBy(_._1).map {
        case (n, cs) => n -> Json.num(cs.map(_.seconds).sum / phase.wallS) }),
      "traced" -> traced.fold[JValue](JNull)(_.json))
    val outFile = Paths.get(a.outDir, s"$runId.json")
    Files.write(outFile, (Json.render(record) + "\n").getBytes("UTF-8"))

    // the last line carries the metrics BENCHMARK.json names (all of them
    // when run without that list); a name the run did not produce reads null
    val produced: Map[String, (Double, String)] = traced match {
      case None => endToEnd.map { case (n, v, u) => n -> (v, u) }.toMap
      case Some(t) => t.metrics
    }
    val names = if (a.finalMetrics.nonEmpty) a.finalMetrics else produced.keys.toSeq.sorted
    val metrics = names.map { n =>
      val (v, u) = produced.getOrElse(n, (Double.NaN, ""))
      n -> metric(v, u)
    }
    println(Json.render(Json.obj("record" -> Json.str(outFile.toString),
      "end_to_end" -> record \ "end_to_end", "call_tail" -> record \ "call_tail",
      "per_layer" -> traced.fold[JValue](JNull)(t => JObject(t.metrics.toList.sortBy(_._1).map {
        case (n, (v, u)) => n -> metric(v, u) })),
      "not_taken" -> traced.fold[JValue](JNull)(t => JObject(t.notTaken.map { case (n, why) => n -> Json.str(why) }.toList)))))
    println(Json.render(Json.obj(
      "correct" -> JBool(correct), "attempted" -> Json.num(attempted.toLong), "failed" -> Json.num(failed.toLong),
      "metrics" -> JObject(metrics.toList))))
    0
  }
}
