package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Benchmark entry point: one JVM, one workload, one result file.
  *
  *   perfbench.Main --workload queries_lazy|stream_ingest|census|batches
  *     --seed N --seconds S --trace 0|1 --data DIR --sf SF --work DIR
  *     --spec workloads.json --trace-out FILE --result FILE [--cores N]
  *
  * The result file holds the line `perfbench/run.py` prints: every
  * end-to-end metric (untraced) or every per-layer metric (traced), plus
  * attempted/failed counts. `census` traces every registry query once;
  * `batches` writes the seed's first stream_ingest batches as text. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get(a.spec)))
    val spark = Harness.session(a)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val h = new Harness(spark, a, tracer)
    h.log("session started")
    val w = spec.get(a.workload)
    a.workload match {
      case "queries_lazy" => QueryWorkload.run(h, members(w, a.sf), w.get("min_passes").asInt)
      case "stream_ingest" => StreamIngest.run(h, streamSpec(w))
      case "census" =>
        val out = Files.newBufferedWriter(Paths.get(a.traceOut))
        try QueryWorkload.census(h, row => { out.write(row + "\n"); out.flush() })
        finally out.close()
      case "batches" =>
        val b = Batches.load(spark, a.data, a.seed, streamSpec(spec.get("stream_ingest")))
        write(a.traceOut, (0 until 3).map(b.dump))
      case other => sys.error(s"unknown workload $other")
    }
    val timed = h.passWalls.nonEmpty
    val metrics = if (!timed) Nil
      else if (a.trace) Metrics.perLayer(h) else Metrics.endToEnd(h)
    val result = Json.obj(Seq(
      "correct" -> (h.failed == 0).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "passes" -> h.passWalls.size.toString, "ops" -> h.ops.size.toString,
      "tail_pct" -> Json.num(Metrics.TailPct), "checks" -> h.checks.size.toString))
    if (timed) tracer.foreach { t =>
      val ops = h.ops.zip(h.counts).map { case (op, c) => Json.obj(Seq(
        "op" -> op.id.toString, "name" -> Json.str(op.name), "layer" -> Json.str(op.layer),
        "pass" -> op.pass.toString, "latency_s" -> Json.num(op.latencyS), "ok" -> op.ok.toString,
        "counts" -> Tracer.countsJson(op, c))) }
      write(a.traceOut, Seq(Json.obj(Seq("summary" -> result, "detail" -> detail))) ++
        ops ++ t.spans)
    }
    Files.writeString(Paths.get(a.result), detail + "\n" + result + "\n")
    spark.stop()
  }

  /** Members with their fingerprint at this run's scale factor. */
  private def members(w: JsonNode, sf: String): Seq[Member] =
    w.get("members").fields().asScala.map { e =>
      val fp = Option(e.getValue.get("fingerprint").get(sf)).map(_.asText).getOrElse("none")
      Member(e.getKey, fp)
    }.toSeq

  private def streamSpec(w: JsonNode): StreamSpec = StreamSpec(
    w.get("users").asInt, w.get("tweets").asInt, w.get("vectors").asInt,
    w.get("nlist").asInt, w.get("nprobe").asInt, w.get("pq_m").asInt, w.get("pq_k").asInt,
    w.get("shortlist").asInt, w.get("min_passes").asInt)

  private def write(path: String, lines: Seq[String]): Unit =
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
}

/** Workload-level metrics from the recorded operations. */
object Metrics {
  type M = (String, Double, String)

  /** Percentile of op latency `op_tail_s` reports. A run holds 45 ops
    * (queries_lazy) or 9 (stream_ingest); the highest percentile with ten
    * samples beyond it would be p77 on the first and does not exist on the
    * second, so both workloads use this one fixed percentile. */
  val TailPct = 90.0

  /** The median op and read latencies and the live heap are per-layer
    * values: across runs on a 4-core host they did not repeat within a
    * tenth (see perfbench/README.md). Input records per second exist only
    * for stream_ingest (0 elsewhere). */
  private def wholeOp(h: Harness): Seq[M] = {
    val lat = h.ops.map(_.latencyS).toSeq
    val reads = h.ops.filter(o => o.kind == "read" || o.kind == "query").map(_.latencyS).toSeq
    Seq(("op_p50_s", Stats.median(lat), "s"), ("read_p50_s", Stats.median(reads), "s"),
      ("peak_live_heap_mb", h.peakLiveHeapMb, "MB"),
      ("rows_per_s", h.extra.get("rows_per_pass").fold(0.0)(_ / Stats.median(h.passWalls.toSeq)),
        "1/s"))
  }

  def endToEnd(h: Harness): Seq[M] = Seq(
    ("setup_s", h.setupS, "s"),
    ("wall_s", Stats.median(h.passWalls.toSeq), "s"),
    ("op_tail_s", Stats.percentile(h.ops.map(_.latencyS).toSeq, TailPct), "s"))

  /** Additive per-op values are summed over the timed region and divided
    * by the number of passes, so they read "per pass". */
  def perLayer(h: Harness): Seq[M] = {
    val passes = h.passWalls.size.toDouble
    val oc = h.ops.toSeq.zip(h.counts.toSeq)
    def per(f: ((Op, OpCounts)) => Double): Double = oc.map(f).sum / passes
    def perLayerOps(layer: String, kind: String) =
      per { case (o, _) => if (o.layer == layer && o.kind == kind) o.latencyS else 0.0 }
    val jobs = oc.map(_._2.jobs).sum
    val appends = oc.filter { case (o, _) => o.layer == "index" && o.kind == "write" }
    val appendByPass = appends.groupBy(_._1.pass).toSeq.sortBy(_._1)
      .map(_._2.map(_._1.latencyS).sum)
    val q = math.max(1, appendByPass.size / 4)
    Seq(
      ("queries.construct_s", per(_._1.constructS), "s"),
      ("queries.construct_jobs", per(_._2.constructJobs.toDouble), "count"),
      ("queries.remainder_s", per { case (o, c) =>
        if (o.layer == "queries") Tracer.remainderS(o, c) else 0.0 }, "s"),
      ("catalyst.analysis_ms", per(_._2.analysisMs), "ms"),
      ("catalyst.optimization_ms", per(_._2.optimizationMs), "ms"),
      ("catalyst.planning_ms", per(_._2.planningMs), "ms"),
      ("operators.exec_s", per(_._1.execS), "s"),
      ("operators.job_busy_s", per(_._2.jobBusyS), "s"),
      ("operators.driver_gap_s", per { case (o, c) => math.max(0.0, o.latencyS - c.jobBusyS) }, "s"),
      ("operators.jobs", per(_._2.jobs.toDouble), "count"),
      ("operators.stages", per(_._2.stages.toDouble), "count"),
      ("operators.tasks", per(_._2.tasks.toDouble), "count"),
      ("operators.task_cpu_s", per(_._2.taskCpuS), "s"),
      ("operators.gc_s", per(_._2.gcS), "s"),
      ("operators.shuffle_read_bytes", per(_._2.shuffleReadBytes.toDouble), "bytes"),
      ("operators.shuffle_write_bytes", per(_._2.shuffleWriteBytes.toDouble), "bytes"),
      ("operators.spill_bytes", per(_._2.spillBytes.toDouble), "bytes"),
      ("operators.peak_exec_mem_bytes", (0L +: oc.map(_._2.peakExecMemBytes)).max.toDouble, "bytes"),
      ("operators.construct_job_share",
        if (jobs == 0) 0.0 else oc.map(_._2.constructJobs).sum.toDouble / jobs, "ratio"),
      ("streaming.latest_offset_ms", per(_._2.latestOffsetMs), "ms"),
      ("streaming.query_planning_ms", per(_._2.queryPlanningMs), "ms"),
      ("streaming.add_batch_ms", per(_._2.addBatchMs), "ms"),
      ("streaming.wal_commit_ms", per(_._2.walCommitMs), "ms"),
      ("streaming.commit_offsets_ms", per(_._2.commitOffsetsMs), "ms"),
      ("streaming.batch_jobs", per(_._2.batchJobs.toDouble), "count"),
      ("streaming.state_rows", h.extra.getOrElse("streaming.state_rows", 0.0), "count"),
      ("streaming.state_bytes", h.extra.getOrElse("streaming.state_bytes", 0.0), "bytes"),
      ("index.append_s", perLayerOps("index", "write"), "s"),
      ("index.append_jobs", per { case (o, c) =>
        if (o.layer == "index" && o.kind == "write") c.jobs.toDouble else 0.0 }, "count"),
      ("index.append_growth", if (appendByPass.isEmpty) 0.0
        else Stats.median(appendByPass.takeRight(q)) / Stats.median(appendByPass.take(q)), "ratio"),
      ("index.probe_s", perLayerOps("index", "read"), "s"),
      ("index.recall_at_10", h.extra.getOrElse("index.recall_at_10", 0.0), "ratio"),
      ("pipelines.preprocess_s", perLayerOps("streaming", "write"), "s"),
      ("dashboard.call_s", perLayerOps("dashboard", "read"), "s"),
      ("trace.wall_s", Stats.median(h.passWalls.toSeq), "s")) ++ wholeOp(h)
  }
}
