package perfbench

import graft.eval.Evaluation
import graft.runner.Runner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.PerfbenchAccess

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** The benchmark harness: one workload per JVM against one local session
  * configured as `Runner.main` configures it.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        Main --record <workload> --work <dir>
  *
  * Set-up (session start + writing generated inputs) runs three times and
  * is reported as the median plus the untimed warm-up passes. The timed
  * phase then runs `--seconds` / the workload's steady round time whole
  * rounds. With `--trace 1` each round runs twice, once on the traced,
  * layered path and once on the entry-point path, in ABBA order, so the
  * difference between them is the tracing overhead. The last line of
  * stdout is the result object.
  */
object Main {

  /** One round's wall and the classes Spark compiled during it. */
  final case class Round(traced: Boolean, wallS: Double, codegenCompiles: Long)

  final class Run(val workload: Workload, val seed: Long, val seconds: Double,
      val trace: Boolean, val work: String) {
    val nThreads: Int = math.min(4, Runtime.getRuntime.availableProcessors())
    var spark: SparkSession = _
    /** Times set-up in every run; tags and counts Spark jobs only when traced. */
    val tracer: Tracer = new Tracer((k, v) =>
      if (trace && spark != null) spark.sparkContext.setLocalProperty(k, v))

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    /** (algorithm, wall seconds) of every passing timed request. */
    val passed = mutable.ArrayBuffer.empty[(String, Double)]
    var instances = 0L
    var tp, fp, fn = 0
    val dispatches = mutable.LinkedHashSet.empty[Dispatch]
    val rounds = mutable.ArrayBuffer.empty[Round]

    def startSession(): SparkSession = {
      val s = graft.core.Sessions.local(nThreads.toString, nThreads.toString,
        s"perfbench-${workload.name}")
      s.sparkContext.setLocalProperty("spark.scheduler.mode", "FAIR")
      s
    }

    private def fail(msg: String): Unit = {
      failed += 1
      if (failures.size < 20) failures += msg
      System.err.println(s"[perfbench] FAILED $msg")
    }

    /** One request; returns its wall seconds. Its time enters the latency
      * and throughput figures only if it returned and every outcome matched. */
    def request(req: Request, traced: Boolean, timed: Boolean): Double = {
      val id = synchronized { attempted += 1; attempted }
      val t0 = System.nanoTime()
      val result =
        try Right(
          if (!traced) {
            val d = Execute.dispatch(spark, req)
            (d, Execute.entryPoints(spark, req, d, nThreads))
          } else tracer.span("request", id) {
            val d = tracer.span("runner.dispatch", id)(Execute.dispatch(spark, req))
            (d, Execute.layered(tracer, id, spark, req, d, nThreads))
          })
        catch { case NonFatal(e) => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val what = s"${req.algorithm} over ${req.refs.map(_.file).mkString(",")}"
      synchronized(result match {
        case Left(e) => fail(s"$what threw $e")
        case Right((d, outs)) =>
          if (timed && req.refs.size > 1) dispatches += d
          val problem =
            if (!timed) None
            else Expected.check(workload.expected, req.algorithm, req.refs.map(_.file), outs)
          problem match {
            case Some(p) => fail(p)
            case None if timed =>
              passed += req.algorithm -> secs
              instances += req.refs.size
              outs.foreach { o => tp += o.tp; fp += o.fp; fn += o.fn }
            case None => ()
          }
      })
      secs
    }

    def round(rng: Random, traced: Boolean): Unit = {
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val c0 = PerfbenchAccess.codegenCompiles
      val wall = workload.round(rng).map(request(_, traced, timed = true)).sum
      if (traced) {
        PerfbenchAccess.drainListenerBus(spark.sparkContext, 30000)
        spark.sparkContext.removeSparkListener(tracer)
      }
      rounds += Round(traced, wall, PerfbenchAccess.codegenCompiles - c0)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    require(opts.size * 2 == args.length, s"expected --flag value pairs, got ${args.mkString(" ")}")
    val work = opts.getOrElse("work", "perfbench/work")
    opts.get("record") match {
      case Some(name) => record(Workloads(name, work))
      case None =>
        val run = new Run(Workloads(opts("workload"), work), opts("seed").toLong,
          opts("seconds").toDouble, opts("trace") == "1", work)
        bench(run)
        sys.exit(0)
    }
  }

  private def bench(r: Run): Unit = {
    val w = r.workload
    require(w.timedKeys.forall(w.expected.contains),
      s"no expected outcome for ${w.timedKeys.filterNot(w.expected.contains).mkString(", ")}")

    // set-up, three times: session start + generated inputs
    var rows = 0L
    val setups = (1 to 3).map { _ =>
      if (r.spark != null) r.spark.stop()
      val t0 = System.nanoTime()
      r.spark = r.tracer.span("core.session_start", 0)(r.startSession())
      rows = r.tracer.span("gen.corpus_write", 0)(w.writeInputs())
      (System.nanoTime() - t0) / 1e9
    }
    Box.LogCounter.install()
    // warm-up passes run their requests concurrently: they only warm code,
    // and serial cold requests would double the set-up time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(r.nThreads)
    val w0 = System.nanoTime()
    val warmups = try (1 to w.warmupPasses).flatMap { _ =>
        w.warmup.map(q => q -> pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = r.request(q, traced = false, timed = false)
        })).map { case (q, f) => q.algorithm -> f.get() }
      }
      finally pool.shutdown()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = Stats.median(setups) + warmupS

    // timed phase
    val gc0 = Box.gcSeconds()
    val errors0 = Box.LogCounter.errors.get
    val warnings0 = Box.LogCounter.warnings.get
    Box.resetHeapPeak()
    // a fixed number of whole rounds: the same work on every commit, so F1
    // and the sample count (hence the tail's percentile) never shift
    val nRounds = math.max(1, (r.seconds / w.roundSeconds).toInt)
    val rng = new Random(r.seed)
    for (i <- 0 until nRounds) {
      if (!r.trace) r.round(rng, traced = false)
      else (if (i % 2 == 0) Seq(true, false) else Seq(false, true)).foreach(r.round(rng, _))
    }
    val gcS = Box.gcSeconds() - gc0
    val heapPeakMb = Box.heapPeakMb()
    val rssMb = Box.peakRssMb()
    val persistedRdds = r.spark.sparkContext.getPersistentRDDs.size
    val cacheEntries = PerfbenchAccess.cachedEntries(r.spark)
    val chainThreads = Box.chainThreads()
    val errorLines = Box.LogCounter.errors.get - errors0
    val warnLines = Box.LogCounter.warnings.get - warnings0

    val latencies = r.passed.map(_._2).toSeq
    val okS = latencies.sum
    val tail = if (latencies.isEmpty) Stats.Tail(0.0, 0.0, 0, 0) else Stats.tail(latencies)
    def per(x: Double) = if (okS > 0) x / okS else 0.0
    val e2e = Json.obj(
      "setup_s" -> (setupS, "s"),
      "requests_per_s" -> (per(latencies.size), "1/s"),
      "latency_p50_s" -> (if (latencies.isEmpty) 0.0 else Stats.median(latencies), "s"),
      "latency_tail_s" -> (tail.value, "s"),
      "instances_per_s" -> (per(r.instances.toDouble), "1/s"),
      "f1" -> (Evaluation.Score(r.tp, r.fp, r.fn).f1, "ratio"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "failure_ratio" -> (r.failed.toDouble / math.max(r.attempted, 1), "ratio"))

    val (tracedRounds, plainRounds) = r.rounds.toSeq.partition(_.traced)
    val traced = tracedRounds.map(_.wallS)
    val plain = plainRounds.map(_.wallS)
    val layers = r.tracer.layers
    def layer(name: String) = layers.find(_.name == name)
    def sum(prefix: String)(f: LayerStats => Double): Double =
      layers.filter(l => l.name == prefix || l.name.startsWith(prefix + ".")).map(f).sum
    val setupSpans = r.tracer.allSpans.groupBy(_.name).map { case (k, ss) =>
      k -> Stats.median(ss.map(s => (s.endNs - s.startNs) / 1e9)) }
    val mb = 1024.0 * 1024.0
    val perLayer: Seq[(String, Double, String)] = if (!r.trace) Seq.empty else {
      def algo(prefix: String) = Seq(
        (s"$prefix.wall_s", sum(prefix)(_.wallS), "s"),
        (s"$prefix.jobs", sum(prefix)(_.counts.jobs), "count"),
        (s"$prefix.busy_s", sum(prefix)(_.counts.busyMs / 1e3), "s"),
        (s"$prefix.gap_s", sum(prefix)(_.gapS), "s"))
      Seq(
        ("core.session_start_s", setupSpans("core.session_start"), "s"),
        ("gen.corpus_write_s", setupSpans("gen.corpus_write"), "s"),
        ("gen.rows_written", rows.toDouble, "count"),
        ("sources.load_s", sum("sources.load")(_.wallS), "s"),
        ("sources.jobs", sum("sources.load")(_.counts.jobs), "count"),
        ("runner.wall_s", sum("runner")(_.wallS), "s"),
        ("runner.jobs", sum("runner")(_.counts.jobs), "count"),
        ("runner.materialize_rows", sum("runner.materialize")(_.counts.recordsRead), "count")) ++
        algo("algorithms") ++ Seq(
        ("algorithms.stages", sum("algorithms")(_.counts.stages), "count"),
        ("algorithms.tasks", sum("algorithms")(_.counts.tasks), "count"),
        ("algorithms.shuffle_read_mb", sum("algorithms")(_.counts.shuffleReadBytes / mb), "MB"),
        ("algorithms.shuffle_write_mb", sum("algorithms")(_.counts.shuffleWriteBytes / mb), "MB"),
        ("algorithms.spill_mb", sum("algorithms")(_.counts.spillBytes / mb), "MB"),
        ("algorithms.result_mb", sum("algorithms")(_.counts.resultBytes / mb), "MB"),
        ("algorithms.peak_exec_mem_mb",
          layers.filter(_.name.startsWith("algorithms.")).map(_.counts.peakExecMemBytes / mb)
            .foldLeft(0.0)(math.max), "MB")) ++
        algo("algorithms.riskloc") ++ Seq(
        ("eval.score_s", sum("eval.score")(_.wallS), "s"),
        ("jvm.gc_s", gcS, "s"),
        ("jvm.peak_heap_mb", heapPeakMb, "MB"),
        ("spark.codegen_compiles", tracedRounds.map(_.codegenCompiles).sum.toDouble, "count"),
        ("spark.unfinished_jobs", r.tracer.unfinishedJobs.toDouble, "count"),
        ("spark.unattributed_jobs", layer(Tracer.Unattributed).map(_.counts.jobs.toDouble).getOrElse(0.0), "count"),
        ("log.error_lines", errorLines.toDouble, "count"),
        ("log.warn_lines", warnLines.toDouble, "count"),
        ("hygiene.persisted_rdds", persistedRdds.toDouble, "count"),
        ("hygiene.cache_entries", cacheEntries.toDouble, "count"),
        ("hygiene.chain_threads", chainThreads.toDouble, "count"),
        ("trace.overhead_s",
          (if (traced.isEmpty || plain.isEmpty) 0.0 else Stats.median(traced) - Stats.median(plain)), "s"))
    }

    val traceFile = if (!r.trace) None else Some {
      val path = s"${r.work}/trace/${w.name}-seed${r.seed}.json"
      Files.createDirectories(Paths.get(path).getParent)
      val spans = r.tracer.allSpans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      Files.write(Paths.get(path), Json.render(Json.obj("spans" -> spans,
        "layers" -> layers.map(layerJson))).getBytes(StandardCharsets.UTF_8))
      path
    }

    // box readings come after the timed phase and after VmHWM was read
    val detail = Json.obj(
      "workload" -> w.name, "seed" -> r.seed, "seconds" -> r.seconds, "trace" -> r.trace,
      "box" -> Box.fingerprint(r.spark), "probes" -> Box.probes(r.spark, r.trace),
      "setup" -> Json.obj("samples_s" -> setups, "warmup_s" -> warmupS,
        "warmup_requests_s" -> warmups.map { case (a, t) => s"$a:${"%.2f".format(t)}" }),
      "rounds" -> r.rounds.map(x => Json.obj("traced" -> x.traced, "wall_s" -> x.wallS,
        "codegen_compiles" -> x.codegenCompiles)),
      "requests_s" -> r.passed.map { case (a, t) => s"$a:${"%.2f".format(t)}" },
      "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures,
      "latency" -> Json.obj("samples" -> tail.samples, "tail_percentile" -> tail.percentile,
        "tail_beyond" -> tail.beyond),
      "dispatch" -> r.dispatches.toSeq.map(d => Json.obj("algorithm" -> d.algorithm,
        "instances" -> d.instances, "max_rows_per_instance" -> d.maxRowsPerInstance,
        "threshold" -> d.threshold, "mode" -> d.mode)),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "hygiene" -> Json.obj("persisted_rdds" -> persistedRdds, "cache_entries" -> cacheEntries,
        "chain_threads" -> chainThreads),
      "log" -> Json.obj("error_lines" -> errorLines, "warn_lines" -> warnLines),
      "layers" -> layers.map(layerJson), "trace_file" -> traceFile)
    r.spark.stop()

    val metrics =
      if (r.trace) perLayer.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }
      else e2e.toSeq.filterNot(_._1 == "failure_ratio")
        .map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    val correct = r.failed == 0 && latencies.nonEmpty
    println(Json.render(Json.obj("detail" -> detail)))
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> Json.obj(metrics: _*))))
  }

  private def layerJson(l: LayerStats) = Json.obj(
    "name" -> l.name, "spans" -> l.spans, "wall_s" -> l.wallS, "self_s" -> l.selfS,
    "busy_s" -> l.counts.busyMs / 1e3, "gap_s" -> l.gapS, "jobs" -> l.counts.jobs,
    "stages" -> l.counts.stages, "tasks" -> l.counts.tasks,
    "shuffle_read_bytes" -> l.counts.shuffleReadBytes, "shuffle_write_bytes" -> l.counts.shuffleWriteBytes,
    "spill_bytes" -> l.counts.spillBytes, "result_bytes" -> l.counts.resultBytes,
    "peak_exec_mem_bytes" -> l.counts.peakExecMemBytes, "records_read" -> l.counts.recordsRead)

  /** Records the expected outcome of every timed (algorithm, file) that no
    * golden covers, from the sequential path one instance at a time. The
    * timed batch path must then reproduce it. */
  private def record(w: Workload): Unit = {
    val golden = w.expectedFiles.filter(f => !f.startsWith("perfbench/") && Files.exists(Paths.get(f)))
      .map(Expected.load).foldLeft(Map.empty: Expected.Table)(_ ++ _)
    val run = new Run(w, 0L, 0.0, trace = false, work = "")
    run.spark = run.startSession()
    w.writeInputs()
    val reqs = w.round(new Random(0L)).flatMap(q => q.refs.map(ref => (q, ref))).distinct
    val rows = reqs.filterNot { case (q, ref) => golden.contains((q.algorithm, ref.file)) }
      .map { case (q, ref) =>
        val o = Execute.sequential(run.tracer, 0, None, run.spark, q, ref)
        val (_, label, _) = Runner.loadInstance(run.spark, q.dataRoot, ref, None)
        println(s"[record] ${q.algorithm} ${ref.file} -> ${o.predictions.get.mkString("|")}")
        (q.algorithm, ref.file) -> Expected.of(label, o.predictions.get)
      }
    Expected.write(s"perfbench/expected/${w.name}.tsv", rows)
    run.spark.stop()
  }
}
