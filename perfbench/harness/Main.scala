package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftshim.DatasetShim

import graft.core._

/** One benchmark process: set up the way `graft run` does, then time
  * `graft run` / `graft check` in a closed loop (one pipeline at a
  * time), or, with `--trace 1`, time each layer from outside.
  *
  * It writes raw samples to `--result` as JSON; run.py turns them into
  * medians and verifies the outputs each run left in `--iters`.
  *
  * Arguments: --config F --seconds S --trace 0|1 --launch-ns N
  *            --result F --iters DIR --keep a,b (sink dirs under out/)
  *            --cold-only 0|1 (untraced: stop after the checks)
  */
object Main {
  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    // monotonic clock reading at the moment run.py launched the JVM
    val launchMono = System.nanoTime() - (epochNanos() - args("launch-ns").toLong)
    val cfg = Paths.get(args("config")).toAbsolutePath
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val bench = new Bench(cfg, Paths.get(args("iters")),
      args("keep").split(",").toSeq, seconds, args("cold-only") == "1")
    val out = mutable.LinkedHashMap.empty[String, Any]
    try bench.run(launchMono, traced, out)
    finally {
      out("peak_rss_mb") = vmHwmMb()
      out("jdk") = System.getProperty("java.runtime.version")
      out("spark") = org.apache.spark.SPARK_VERSION
      out("master") = SparkSession.getDefaultSession
        .map(_.sparkContext.master).getOrElse("")
      out("max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
      Files.writeString(Paths.get(args("result")),
        JsonMapper.builder().addModule(DefaultScalaModule).build()
          .writeValueAsString(out))
    }
    SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(0)
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

object Bench {
  /** Warm rounds every process measures, whatever `seconds` allows: the
    * JIT is still warming up over the first few runs, so run.py takes
    * the timings of these rounds only, to sample the same point of that
    * curve in every process. */
  val WarmRounds = 1
  /** Checks after the cold run: a check takes a tenth of a second or
    * so, and nine keep its median steady. */
  val Checks = 9
}

final class Bench(cfg: Path, iters: Path, keep: Seq[String], seconds: Double,
                  coldOnly: Boolean) {
  private val outDir = cfg.getParent.resolve("out")
  private var iter = 0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Bytes the run left on disk, then move its sink outputs aside for
    * verification and drop everything else (untimed). */
  private def collect(tag: String): Long = {
    if (!Files.exists(outDir)) return 0L
    val walk = Files.walk(outDir)
    val bytes = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally walk.close()
    val dest = iters.resolve(f"$iter%03d-$tag")
    iter += 1
    Files.createDirectories(dest)
    keep.foreach { k =>
      val src = outDir.resolve(k)
      if (Files.exists(src)) {
        Files.createDirectories(dest.resolve(k).getParent)
        Files.move(src, dest.resolve(k), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    delete(outDir)
    bytes
  }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toVector.reverse.foreach(Files.delete)
    finally walk.close()
  }

  private def cli(cmd: String): (Double, Int) = {
    val t0 = System.nanoTime()
    val code = graft.cli.Main.run(Array(cmd, "-c", cfg.toString))
    (secs(t0), code)
  }

  def run(launchMono: Long, traced: Boolean,
          out: mutable.LinkedHashMap[String, Any]): Unit = {
    val t = new SetupTimer
    // -- set-up, exactly the steps `graft run` takes before its first
    // input plugin executes
    implicit val spark: SparkSession =
      t.time("core.Session.start_s")(Session.getOrCreate())
    val config = t.time("core.Config.load_s")(
      Config.loadConfig(cfg).fold(e => throw e, identity))
    val registry = t.time("core.Loader.load_s")(
      Loader.loadPlugins(config, cfg).fold(e => throw e, identity))
    out("setup_s") = secs(launchMono)
    t.times("core.Loader.compiled_sources") = config.transformPlugins
      .count(_.module.endsWith(".scala")).toDouble
    out("layers") = t.times
    delete(outDir)

    if (!traced) untraced(out) else tracedRun(spark, config, registry, out, t)
  }

  /** Closed loop over the CLI entry point: one cold run and
    * [[Bench.Checks]] checks, then warm runs until `seconds` have
    * passed, at least [[Bench.WarmRounds]]; with `coldOnly`, no warm
    * runs. */
  private def untraced(out: mutable.LinkedHashMap[String, Any]): Unit = {
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def run(): Unit = {
      val (rs, rc) = cli("run")
      val tag = f"run${runs.size}%02d"
      runs += Map("s" -> rs, "code" -> rc, "bytes" -> collect(tag), "dir" -> f"${iter - 1}%03d-$tag")
    }
    run()
    for (_ <- 0 until Bench.Checks) {
      val (cs, cc) = cli("check")
      delete(outDir)
      checks += Map("s" -> cs, "code" -> cc)
    }
    if (!coldOnly) {
      val t0 = System.nanoTime()
      while (secs(t0) < seconds || runs.size < 1 + Bench.WarmRounds) run()
    }
    out("runs") = runs.toSeq
    out("checks") = checks.toSeq
    out("warm_rounds") = if (coldOnly) 0 else Bench.WarmRounds
  }

  private def tracedRun(spark: SparkSession, config: GraftConfig,
                        registry: PluginRegistry,
                        out: mutable.LinkedHashMap[String, Any],
                        setup: SetupTimer): Unit = {
    cli("run"); delete(outDir) // cold run, not measured
    val tr = new Tracer(spark)
    val wrapped = Traced.wrap(registry, tr)
    val persist = config.pipelineOptions.get("persist_multi_output")
      .forall(_.toString.toBoolean)
    // untraced and traced runs of the same Pipeline call come in pairs,
    // and which of a pair goes first alternates, so both see the same
    // JIT warm-up; the median ratio within a pair is trace.overhead
    val base = mutable.ArrayBuffer.empty[Double]
    val untracedDirs = mutable.ArrayBuffer.empty[String]
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedDirs = mutable.ArrayBuffer.empty[String]
    var kernels = (Map.empty[String, Double], Map.empty[String, String])
    def plainRun(): Unit = {
      val t1 = System.nanoTime()
      val plain = Pipeline.runPipeline(registry.inputs, registry.transforms,
        registry.outputs, persist)(spark)
      require(plain.isRight, s"untraced run failed: ${plain.left.toOption.map(_.getMessage)}")
      base += secs(t1)
      collect("base"); untracedDirs += f"${iter - 1}%03d-base"
    }
    val t0 = System.nanoTime()
    var done = false
    while (!done) {
      if (perRun.size % 2 == 0) plainRun()
      tr.install()
      tr.take()
      tr.runId = perRun.size
      val ok = tr.span("run", "core.Pipeline") {
        Pipeline.runPipeline(wrapped.inputs, wrapped.transforms,
          wrapped.outputs, persist)(spark)
      }
      require(ok.isRight, s"traced run failed: ${ok.left.toOption.map(_.getMessage)}")
      val w = tr.take()
      tr.uninstall()
      perRun += Layers.ofRun(tr, tr.spans.findLast(_.name == "run").get, w)
      done = secs(t0) >= seconds && perRun.size >= 3
      // kernels read the run's own intermediate files, so time them
      // before its outputs are moved away
      if (done) kernels = Kernels.rowsPerSecond(spark, w.queries)
      collect("traced"); tracedDirs += f"${iter - 1}%03d-traced"
      if (perRun.size % 2 == 0) plainRun()
    }

    tr.install()
    tr.take()
    val checksOut = mutable.ArrayBuffer.empty[Map[String, Double]]
    for (i <- 0 until 3) {
      tr.runId = 1000 + i
      val res = tr.span("check", "core.Pipeline") {
        Pipeline.runDryRunPipeline(wrapped.inputs, wrapped.transforms,
          wrapped.outputs)(spark)
      }
      val w = tr.take()
      checksOut += Layers.ofCheck(tr, tr.spans.findLast(_.name == "check").get, w,
        res.isRight)
      delete(outDir)
    }

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= setup.times
    def med(rows: Seq[Map[String, Double]]): Unit =
      rows.flatMap(_.keys).distinct.foreach { k =>
        layers(k) = median(rows.map(_.getOrElse(k, 0.0)))
      }
    med(perRun.toSeq)
    med(checksOut.toSeq)
    // per pair, so the JIT warm-up between pairs cancels out
    layers("trace.overhead") = median(perRun.map(_("trace.run_s")).zip(base)
      .map { case (traced, plain) => traced / plain }.toSeq)
    layers ++= kernels._1
    out("layers") = layers
    out("kernel_errors") = kernels._2
    out("untraced_run_s") = base.toSeq
    out("untraced_dirs") = untracedDirs.toSeq
    out("traced_dirs") = tracedDirs.toSeq
    out("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "run_id" -> s.runId)).toSeq
  }
}

/** Set-up timings, recorded before any listener exists. */
final class SetupTimer {
  val times = mutable.LinkedHashMap.empty[String, Double]
  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally times(key) = (System.nanoTime() - t0) / 1e9
  }
}

/** Per-layer numbers of one traced pipeline run or check. */
object Layers {
  private val planHelper = new AdaptiveSparkPlanHelper {}

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  private def children(t: Tracer, root: Span): Seq[Span] =
    t.spans.filter(s => s.parent == root.id).toSeq

  private def ownedJobs(t: Tracer, w: Tracer#Window, owned: Set[Int]): Seq[JobRec] =
    w.jobs.filter(j => t.owner(j.group).exists(owned))

  /** Job, stage and task counters of the jobs owned by `owned` spans. */
  private def work(t: Tracer, w: Tracer#Window, owned: Set[Int],
                   prefix: String): Map[String, Double] = {
    val js = ownedJobs(t, w, owned)
    val stages = js.flatMap(_.stages).toSet
    val ts = w.tasks.filter(r => stages(r.stage))
    val runMs = ts.map(_.runMs.toDouble)
    Map(
      s"$prefix.jobs" -> js.size.toDouble,
      s"$prefix.stages" -> ts.map(_.stage).distinct.size.toDouble,
      s"$prefix.tasks" -> ts.size.toDouble,
      s"$prefix.tasks_failed" -> ts.count(!_.ok).toDouble,
      s"$prefix.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      s"$prefix.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      s"$prefix.scan_bytes" -> ts.map(_.inBytes).sum.toDouble,
      s"$prefix.scan_rows" -> ts.map(_.inRecs).sum.toDouble,
      s"$prefix.shuffle_write_bytes" -> ts.map(_.shufWriteBytes).sum.toDouble,
      s"$prefix.shuffle_read_bytes" -> ts.map(_.shufReadBytes).sum.toDouble,
      s"$prefix.shuffle_records" -> ts.map(_.shufWriteRecs).sum.toDouble,
      s"$prefix.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      s"$prefix.rows_written" -> ts.map(_.outRecs).sum.toDouble,
      s"$prefix.bytes_written" -> ts.map(_.outBytes).sum.toDouble,
      s"$prefix.task_max_over_median" ->
        (if (runMs.isEmpty) 0.0 else runMs.max / math.max(p50(runMs), 1.0)))
  }

  private def countNodes(p: SparkPlanInfo, pred: String => Boolean): Int =
    (if (pred(p.nodeName)) 1 else 0) + p.children.map(countNodes(_, pred)).sum

  def ofRun(t: Tracer, root: Span, w: Tracer#Window): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val kids = children(t, root)
    for ((layer, key) <- Seq("plugins.input" -> "build_s",
                             "plugins.transform" -> "build_s",
                             "plugins.output" -> "sink_s")) {
      val ss = kids.filter(_.layer == layer)
      m(s"$layer.$key") = ss.map(_.seconds).sum
      m ++= work(t, w, ss.map(_.id).toSet, layer)
      if (layer == "plugins.transform")
        ss.groupBy(_.plugin).foreach { case (p, xs) =>
          m(s"$layer.$p.build_s") = xs.map(_.seconds).sum
          m(s"$layer.$p.jobs") = ownedJobs(t, w, xs.map(_.id).toSet).size.toDouble
        }
    }
    m("trace.run_s") = root.seconds
    m("trace.unattributed_s") = root.seconds - kids.map(_.seconds).sum
    m("trace.unattributed_jobs") = w.jobs.count(j => t.owner(j.group).isEmpty).toDouble
    m("core.Pipeline.jobs") = ownedJobs(t, w, Set(root.id)).size.toDouble

    // plan shape over every SQL execution of the run (final AQE plans)
    def nodes(pred: String => Boolean) = w.plans.map(countNodes(_, pred)).sum.toDouble
    m("plans.exchanges") = nodes(n => n == "Exchange")
    m("plans.sort_merge_joins") = nodes(_ == "SortMergeJoin")
    m("plans.broadcast_joins") = nodes(n => n == "BroadcastHashJoin" || n == "BroadcastNestedLoopJoin")
    m("plans.codegen_stages") = nodes(_.startsWith("WholeStageCodegen"))
    m("plans.planning_s") = w.queries.map { qe =>
      val ph = qe.tracker.phases
      Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum / 1e3
    }.sum
    m("expressions.codegen_fallback_exprs") = w.queries.map { qe =>
      planHelper.collectWithSubqueries(qe.executedPlan) { case p => p }
        .flatMap(_.expressions).map(_.collect { case e: CodegenFallback => e }.size).sum
    }.sum.toDouble

    // micro-batches that read rows
    val batches = w.progress.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = p50(batches.map(b =>
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    m("streaming.batches") = batches.size.toDouble
    m("streaming.rows_per_batch") = p50(batches.map(_.numInputRows.toDouble))
    m("streaming.trigger_ms_p50") = dur("triggerExecution")
    m("streaming.add_batch_ms_p50") = dur("addBatch")
    m("streaming.query_planning_ms_p50") = dur("queryPlanning")
    m("streaming.latest_offset_ms_p50") = dur("latestOffset")
    m("streaming.wal_commit_ms_p50") = dur("walCommit")
    m.toMap
  }

  def ofCheck(t: Tracer, root: Span, w: Tracer#Window, ok: Boolean): Map[String, Double] = {
    val kids = children(t, root)
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Seq("plugins.input", "plugins.transform", "plugins.output")) {
      val ss = kids.filter(_.layer == s"$layer.dry_run")
      m(s"$layer.dry_run_s") = ss.map(_.seconds).sum
      if (layer == "plugins.input")
        m("plugins.input.dry_run_jobs") = ownedJobs(t, w, ss.map(_.id).toSet).size.toDouble
    }
    m("core.Pipeline.check_s") = root.seconds
    m("core.Pipeline.check_jobs") = w.jobs.size.toDouble
    m("core.Pipeline.check_ok") = if (ok) 1.0 else 0.0
    m.toMap
  }
}

/** Throughput of each custom Catalyst expression (graft.expressions)
  * the workload's plans use, timed alone: its non-literal inputs are
  * computed from the workload's own data and cached first, then only
  * the expression runs, into the no-op sink. */
object Kernels {
  private def kernels(plan: LogicalPlan): Seq[(Expression, LogicalPlan)] = {
    val found = mutable.ArrayBuffer.empty[(Expression, LogicalPlan)]
    plan.foreach { node =>
      if (node.children.size == 1)
        node.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft.expressions.") &&
              e.references.subsetOf(node.children.head.outputSet))
            found += (e -> node.children.head)
        })
    }
    found.toSeq
  }

  /** (rows/s per kernel, kernel -> why it could not be timed alone) */
  def rowsPerSecond(spark: SparkSession,
                    queries: Seq[org.apache.spark.sql.execution.QueryExecution])
      : (Map[String, Double], Map[String, String]) = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    val seen = mutable.LinkedHashMap.empty[String, (Expression, LogicalPlan)]
    queries.foreach(qe => kernels(qe.optimizedPlan).foreach { case (e, child) =>
      if (!seen.contains(e.prettyName)) seen(e.prettyName) = (e, child)
    })
    val timed = seen.flatMap { case (fn, (e, child)) =>
      try {
        val inputs = e.children.zipWithIndex.filterNot(_._1.foldable)
        val staged = DatasetShim.ofRows(spark, Project(
          inputs.map { case (c, i) => Alias(c, s"in$i")() }, child)).cache()
        val rows = staged.count()
        val attrs = DatasetShim.analyzed(staged).output
        val byIndex = inputs.map(_._2).zip(attrs).toMap
        val alone = e.withNewChildren(e.children.zipWithIndex.map {
          case (c, i) => byIndex.getOrElse(i, c)
        })
        val df = DatasetShim.ofRows(spark, Project(Seq(Alias(alone, "out")()),
          DatasetShim.analyzed(staged)))
        val times = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        staged.unpersist(blocking = true)
        Some(s"expressions.$fn.rows_per_s" -> rows / times(1))
      } catch {
        case scala.util.control.NonFatal(ex) =>
          errors(fn) = String.valueOf(ex.getMessage).take(300)
          None
      }
    }.toMap
    (timed, errors.toMap)
  }
}
