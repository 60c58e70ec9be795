package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._

final case class TracedResult(phase: Main.Phase, metrics: Map[String, (Double, String)],
                              notTaken: Seq[(String, String)], json: JValue)

/** The traced phase: the same passes as the compared phase, with spans,
  * a SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * on, reduced to per-layer metrics. */
object Traced {
  private val MiB = 1048576.0

  def run(spark: SparkSession, w: Workload, passes: Int, a: Main.Args, untraced: Main.Phase): TracedResult = {
    val sc = spark.sparkContext
    val probe = new SparkProbe
    val plans = new PlanProbe
    val streams = new StreamProbe
    sc.addSparkListener(probe)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    val tracer = new Tracer(s"${a.workload}-seed${a.seed}", enabled = true)
    val phase = Main.timed(w, passes, tracer, sc)
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(probe)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)

    val ms = ArrayBuffer[(String, Double, String)]()
    def put(n: String, v: Double, u: String): Unit = ms += ((n, v, u))

    val callLayers = phase.calls.map(c => c.name -> c.layer).distinct
    val callS = phase.calls.filter(_.ok).groupBy(_.name).map { case (n, cs) => n -> Stats.median(cs.map(_.seconds)) }
    callLayers.foreach { case (n, layer) => callS.get(n).foreach(v => put(s"$layer.$n.s", v, "s")) }

    val stages = probe.stageRecs
    val stagesOf = stages.groupBy(_.call)
    callLayers.filter(_._2 == "operators").foreach { case (n, _) =>
      val per = (0 until passes).map(p => stagesOf.getOrElse(s"$p:$n", Nil))
      put(s"operators.$n.stages", Stats.median(per.map(_.size.toDouble)), "count")
      put(s"operators.$n.tasks", Stats.median(per.map(_.map(_.numTasks).sum.toDouble)), "count")
      put(s"operators.$n.shuffle_mb", Stats.median(per.map(_.map(_.shuffleWrite).sum / MiB)), "MiB")
    }

    val t = probe.totals
    val taskS = t.runMs / 1e3
    val skews = probe.taskTimes.values.filter(_.size >= 2).flatMap { ts =>
      val med = Stats.median(ts.map(_.toDouble))
      if (med > 0) Some(ts.max / med) else None
    }.toSeq
    // wall time of each call not covered by any of its running stages
    val gapNs = phase.calls.map { c =>
      val iv = stagesOf.getOrElse(s"${c.pass}:${c.name}", Nil).map(s => (s.submitMs * 1000000L, s.completeMs * 1000000L))
      (c.end - c.start) - Trace.covered(iv, c.start, c.end)
    }.sum
    put("spark.jobs", probe.jobs.toDouble, "count")
    put("spark.stages", stages.size.toDouble, "count")
    put("spark.tasks", t.tasks.toDouble, "count")
    put("spark.task_s", taskS, "s")
    put("spark.eff_parallelism", taskS / phase.wallS, "ratio")
    put("spark.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    put("spark.driver_gap_s", gapNs / 1e9, "s")
    put("spark.task_overhead_s", t.overheadMs / 1e3, "s")
    put("spark.shuffle_read_mb", t.shuffleRead / MiB, "MiB")
    put("spark.shuffle_write_mb", t.shuffleWrite / MiB, "MiB")
    put("spark.spill_mb", t.spill / MiB, "MiB")
    put("spark.failed_tasks", t.failed.toDouble, "count")

    val (anMs, optMs, planMs, rewrites, actions) = plans.snapshot
    put("plans.analysis_s", anMs / 1e3, "s")
    put("plans.optimization_s", optMs / 1e3, "s")
    put("plans.planning_s", planMs / 1e3, "s")
    put("plans.rewrites_fired", rewrites.toDouble, "count")
    put("plans.actions", actions.toDouble, "count")

    val (batches, batchMs) = streams.snapshot
    put("streaming.batches", batches.toDouble, "count")
    put("streaming.batch_s", batchMs / 1e3, "s")

    put("cache.persisted_rdds_end", sc.getPersistentRDDs.size.toDouble, "count")
    put("cache.storage_mb_end", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MiB, "MiB")
    put("jvm.gc_s", phase.gcS, "s")
    put("jvm.gc_pauses", phase.gcPauses.toDouble, "count")
    put("trace.overhead_frac", phase.wallS / untraced.wallS - 1, "ratio")

    val spans = tracer.spans
    val self = Trace.selfTimes(spans)
    spans.groupBy(_.layer).foreach { case (layer, ss) =>
      put(s"self.$layer.s", ss.map(s => self(s.id)).sum / 1e9, "s")
    }

    val layer = w.layers(callS)
    ms ++= layer.metrics

    val json = Json.obj(
      "wall_s" -> Json.num(phase.wallS),
      "untraced_wall_s" -> Json.num(untraced.wallS),
      "metrics" -> JObject(ms.toList.map { case (n, v, u) => n -> Main.metric(v, u) }),
      "not_taken" -> JObject(layer.notTaken.toList.map { case (n, why) => n -> Json.str(why) }),
      "calls" -> Json.arr(phase.calls.map(Main.callJson)),
      "spans" -> Json.arr(spans.map { s =>
        Json.obj("id" -> Json.num(s.id.toLong), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ns" -> Json.num(s.start), "end_ns" -> Json.num(s.end), "parent" -> Json.num(s.parent.toLong),
          "run" -> Json.str(s.run), "self_ns" -> Json.num(self(s.id)))
      }))
    TracedResult(phase, ms.map { case (n, v, u) => n -> (v, u) }.toMap, layer.notTaken, json)
  }
}
