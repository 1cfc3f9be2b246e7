package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.Engine
import graft.functions.{ProcessClient, WasmRuntime}

/** Runs one workload in a closed loop on one driver thread and prints its
  * metrics. The last line of standard output is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  * Main --workload udf_batch --seed 1 --seconds 10 --trace 0 \
  *      --data perfbench/data --work .bench_build/work [--expected F] [--record F]
  * }}}
  *
  * The number of passes is fixed by `--seconds` and the workload's nominal
  * pass time, so two runs with one seed do exactly the same work. With
  * `--trace 1` passes alternate untraced/traced; the traced passes give
  * the per-layer metrics and the difference between the two kinds of pass
  * is the tracing overhead.
  */
object Main {
  @volatile private var current: Tracer = _
  def tracer: Tracer = current

  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val traces = Paths.get(args.getOrElse("traces", args("work"))).toAbsolutePath
    val expected = args.get("expected").map(p => Expected.read(Paths.get(p))).getOrElse(Map.empty)
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")

    val engine = Engine.local()
    val spark = engine.spark
    current = new Tracer(spark)
    val record = mutable.TreeMap[String, (Long, String)]()
    val ctx = Ctx(engine, seed, Paths.get(args("data")).toAbsolutePath, work, expected, record)
    val wl = Workloads(workload, ctx)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupRuns = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(setupRuns)
    println(f"setup: session ${sessionS}%.3f s, workload set-up ${setupRuns.map(s => f"$s%.3f").mkString(" ")} s")

    val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    // traced: an untraced warm-up pass, then traced and untraced passes in turn
    val nPasses = if (traced) 1 + 2 * ((passes + 1) / 2) else passes
    val samples = mutable.ArrayBuffer[Sample]()
    val checks = mutable.ArrayBuffer[(Int, () => Option[String])]()
    val passTimes = mutable.ArrayBuffer[(Boolean, Double)]()
    var tracedWall = 0.0
    val tracedCounts = mutable.Map[String, Long]().withDefaultValue(0L)
    def snap(): Map[String, Long] = Map(
      "functions.wasm.invocations" -> WasmRuntime.invocations.get,
      "functions.wasm.instances_created" -> WasmRuntime.instancesCreated.get,
      "functions.proc.round_trips" -> ProcessClient.roundTrips.get)
    // every timed loop starts from the same heap state, whatever garbage
    // the seed-ordered set-up left behind
    System.gc()
    val host0 = HostTicks.sample()
    val loop0 = snap()
    for (p <- 0 until nPasses) {
      val tracedPass = traced && p % 2 == 1
      val warmUp = traced && p == 0
      val ops = wl.pass(p)
      val before = if (tracedPass) { current.start(); snap() } else Map.empty[String, Long]
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val o0 = System.nanoTime()
        val result =
          try Right(current.op(s"op:${op.name}")(op.run()))
          catch { case e: Throwable => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val dt = (System.nanoTime() - o0) / 1e9
        samples += Sample(op.name, dt, tracedPass, result.left.toOption)
        result.foreach(c => checks += samples.size - 1 -> c)
      }
      val passS = (System.nanoTime() - t0) / 1e9
      if (!warmUp) passTimes += tracedPass -> passS
      if (tracedPass) {
        tracedWall += passS
        snap().foreach { case (k, v) => tracedCounts(k) += v - before(k) }
        current.stop()
      }
    }
    val host = HostTicks.since(host0)
    val loop = snap().map { case (k, v) => k -> (v - loop0(k)).toDouble }
    val rssMb = peakRssMb()

    // deferred output checks, outside the timed loop
    val checkErr = checks.map { case (i, c) =>
      i -> (try c() catch { case e: Throwable => Some(s"${samples(i).op}: check threw $e") })
    }.toMap
    val errors = samples.indices.flatMap(i => samples(i).error.orElse(checkErr.getOrElse(i, None)))
    val attempted = samples.size
    val failed = errors.size
    errors.distinct.take(20).foreach(e => println(s"FAILED $e"))

    val untracedSamples = samples.filterNot(_.traced).toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val passUntraced = passTimes.filterNot(_._1).map(_._2).toSeq
    if (!traced) {
      val lat = untracedSamples.map(_.seconds)
      val (tailP, tailV) = Stats.tail(lat)
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (Stats.median(passUntraced), "s")
      metrics("op_p50_s") = (Stats.median(lat), "s")
      metrics("op_tail_s") = (tailV, "s")
      metrics("peak_rss_mb") = (rssMb, "MB")
      wl.extraMetrics(untracedSamples).foreach { case (k, v, u) => println(f"metric $k%-42s $v%.6f $u (not gated)") }
      untracedSamples.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        println(f"op $n%-36s n=${ss.size}%4d median=${Stats.median(ss.map(_.seconds))}%.4f s")
      }
      println(s"passes: ${passUntraced.map(t => f"$t%.3f").mkString(" ")} s")
      println(f"ops: n=${lat.size} passes=$nPasses tail=p$tailP%.1f (${(lat.size * (1 - tailP / 100)).toInt} samples above it)")
      println(f"failed_frac: ${failed.toDouble / attempted}%.6f ($failed of $attempted)")
    } else {
      val tracer = current
      val passTraced = passTimes.filter(_._1).map(_._2).toSeq
      val nTraced = passTraced.size.toDouble
      val tracedOps = samples.count(_.traced)
      val roots = tracer.allSpans.filter(s => s.parent == 0 && s.name.startsWith("op:"))
      val c = tracer.counts
      def per(k: String) = c(k) / nTraced
      tracer.recording = true
      val replays = wl.layerReplays(tracer).toMap.withDefaultValue(0.0)
      tracer.recording = false
      def spanMean(name: String, scale: Double) = {
        val ss = tracer.allSpans.filter(_.name == name)
        if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / ss.size / scale
      }
      def spanPerPass(name: String) = tracer.allSpans.filter(_.name == name).map(_.durNs).sum / 1e9 / nTraced
      val layer = Seq(
        "ddl.create_ms" -> spanMean("ddl.create", 1e6),
        "ddl.drop_ms" -> spanMean("ddl.drop", 1e6),
        "functions.module.parse_ms" -> replays("functions.module.parse_ms"),
        "functions.module.parsed_count" -> WasmRuntime.parsedModuleCount.toDouble,
        "plans.pack_us_per_batch" -> replays("plans.pack_us_per_batch"),
        "plans.unpack_us_per_batch" -> replays("plans.unpack_us_per_batch"),
        "functions.codec.encode_us_per_batch" -> replays("functions.codec.encode_us_per_batch"),
        "functions.codec.decode_us_per_batch" -> replays("functions.codec.decode_us_per_batch"),
        "functions.codec.payload_bytes_per_row" -> replays("functions.codec.payload_bytes_per_row"),
        "functions.wasm.guest_us_per_batch" -> replays("functions.wasm.guest_us_per_batch"),
        "functions.wasm.guest_str_us_per_batch" -> replays("functions.wasm.guest_str_us_per_batch"),
        "functions.wasm.invocations" -> tracedCounts("functions.wasm.invocations") / nTraced,
        "functions.wasm.instances_created" -> loop("functions.wasm.instances_created"),
        "functions.wasm.invocations_per_instance" ->
          loop("functions.wasm.invocations") / loop("functions.wasm.instances_created").max(1.0),
        "functions.proc.roundtrip_us_per_batch" -> replays("functions.proc.roundtrip_us_per_batch"),
        "functions.proc.round_trips" -> tracedCounts("functions.proc.round_trips") / nTraced,
        "catalyst.analysis_ms" -> per("catalyst.analysis_ms"),
        "catalyst.optimization_ms" -> per("catalyst.optimization_ms"),
        "catalyst.planning_ms" -> per("catalyst.planning_ms"),
        "queries.build_s" -> spanPerPass("queries.build"),
        "queries.exec_s" -> spanPerPass("queries.exec"),
        "queries.shared_build_s" -> spanPerPass("queries.shared_build"),
        "scheduler.jobs" -> per("scheduler.jobs"),
        "scheduler.stages" -> per("scheduler.stages"),
        "scheduler.tasks" -> per("scheduler.tasks"),
        "scheduler.jobs_per_op" -> c("scheduler.jobs") / tracedOps,
        "scheduler.outside_jobs_s" -> tracer.outsideJobsS(roots) / nTraced,
        "streaming.micro_batches" -> per("streaming.micro_batches"),
        "streaming.trigger_ms" -> tracer.meanTriggerMs,
        "executor.task_cpu_s" -> per("executor.task_cpu_s"),
        "executor.cores_idle_frac" -> (1 - c("executor.task_cpu_s") / (tracedWall * ctx.cores)),
        "executor.shuffle_write_bytes" -> per("executor.shuffle_write_bytes"),
        "executor.shuffle_read_bytes" -> per("executor.shuffle_read_bytes"),
        "executor.spill_bytes" -> per("executor.spill_bytes"),
        "executor.gc_s" -> per("executor.gc_s"),
        "trace.overhead_frac" -> (Stats.median(passTraced) / Stats.median(passUntraced) - 1))
      layer.foreach { case (k, v) => metrics(k) = (v, Units(k)) }
      val out = traces.resolve(s"trace-$workload-$seed.json")
      tracer.writeJson(out)
      println(s"trace: ${tracer.allSpans.size} spans written to $out")
      tracer.selfTimes.foreach { case (n, cnt, tot, self) =>
        println(f"span $n%-40s count=$cnt%6d total=$tot%9.4f s self=$self%9.4f s")
      }
    }
    println(f"host: steal_ticks=${host._1} busy_ticks=${host._2} total_ticks=${host._3}")
    args.get("record").foreach(p => Expected.write(Paths.get(p), record.toMap))

    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-42s $v%.6f $u") }
    wl.teardown()
    spark.stop()
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricJson}""")
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Units {
  def apply(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_us_per_batch")) "us"
    else if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("bytes_per_row")) "bytes/row" else if (k.endsWith("_frac")) "fraction"
    else if (k.endsWith("_per_op")) "jobs/op" else if (k.endsWith("_per_instance")) "calls/instance"
    else "count"
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** `/proc/stat` aggregate CPU ticks: (steal, busy, total) since a sample. */
object HostTicks {
  def sample(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  def since(before: Array[Long]): (Long, Long, Long) = {
    val after = sample()
    if (before.length < 8 || after.length < 8) return (-1L, -1L, -1L)
    val d = after.zip(before).map { case (a, b) => (a - b).max(0L) }
    val total = d.take(8).sum
    (d(7), total - d(3) - d(4), total)
  }
}

/** Recorded per-entry fingerprints: one `name rows hash` line per entry. */
object Expected {
  def read(p: Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(p.toFile).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\\s+"); n -> (r.toLong, h) }.toMap

  def write(p: Path, m: Map[String, (Long, String)]): Unit =
    Files.write(p, m.toSeq.sortBy(_._1).map { case (n, (r, h)) => s"$n $r $h" }.mkString("", "\n", "\n").getBytes("UTF-8"))
}
