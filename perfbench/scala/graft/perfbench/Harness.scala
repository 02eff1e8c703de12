package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ops.{Op, Registry}

/** JVM side of the lake benchmark (see perfbench/README.md).
  *
  *   Harness oracle-sql <out.json>   oracle SQL of every listed op
  *   Harness run --workload W --seed N --seconds S --trace 0|1 --fixture DIR
  *               --oracles TSV --run-dir DIR --result FILE --spans FILE --cpus N
  */
object Harness {
  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil => Files.writeString(Paths.get(out), Json(oracleSql))
    case "run" :: rest => new Run(Config.parse(rest)).apply()
    case _ =>
      System.err.println("usage: Harness oracle-sql <out.json> | Harness run --workload W ...")
      sys.exit(2)
  }

  /** workload -> op -> oracle SQL (null when the op is missing or has none). */
  def oracleSql: Map[String, Map[String, Any]] = {
    val byName = Registry.all.map(o => o.name -> o).toMap
    Workloads.all.map { w =>
      w.name -> w.ops.map(e => e.op -> byName.get(e.op).flatMap(_.oracle).orNull).toMap
    }.toMap
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    fixture: String, oracles: Map[String, String], runDir: File, result: String,
    spans: String, cpus: Int)

object Config {
  def parse(args: List[String]): Config = {
    val kv = args.grouped(2).map {
      case List(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val oracles = Files.readAllLines(Paths.get(kv("oracles")), UTF_8).asScala
      .filter(_.nonEmpty).map { l => val Array(op, path) = l.split("\t", 2); op -> path }.toMap
    Config(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("fixture"), oracles, new File(kv("run-dir")), kv("result"), kv("spans"),
      kv("cpus").toInt)
  }
}

/** One timed execution. `ran` is false when the op is not in the registry;
  * such executions count as attempted and failed but carry no latency. */
final case class Exec(idx: Int, ran: Boolean, wallS: Double, cpuS: Double,
    digest: Option[String], error: Option[String])

final class Run(cfg: Config) {
  private val wl = Workloads.byName(cfg.workload)
  private val entries = wl.ops.toIndexedSeq
  private val ops: IndexedSeq[Option[Op]] = {
    val byName = Registry.all.map(o => o.name -> o).toMap
    entries.map(e => byName.get(e.op))
  }
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
  private val lakeDirs = Seq("tmp", "warehouse").map(new File(cfg.runDir, _))
  private var spark: SparkSession = _

  private def secs(since: Long): Double = (System.nanoTime() - since) / 1e9

  /** Round r of the balanced schedule: every op once, in an order drawn
    * from the seed. Untraced and traced loops replay the same rounds. */
  private def round(r: Int): IndexedSeq[Int] =
    new Random(cfg.seed * 1000003L + r).shuffle(entries.indices.toIndexedSeq)

  // ---------------------------------------------------------------- setup

  final case class Setup(totalS: Double, sessionS: Double, prewarmS: Map[String, Double],
      passS: Double, passByOp: Seq[(Workloads.Entry, Double)], failures: Map[String, String]) {
    def passByModule(m: String): Double = passByOp.filter(_._1.module == m).map(_._2).sum
  }

  /** Session creation, the workload's prewarm hooks and one untimed pass
    * over every op. The session's temp, local and warehouse dirs are the
    * run's own; the ops write their lake tables under java.io.tmpdir. */
  private def setup(): Setup = {
    val failures = mutable.Map.empty[String, String]
    val Seq(tmp, local, warehouse) = Seq("tmp", "local", "warehouse").map { d =>
      val f = new File(cfg.runDir, d); f.mkdirs(); f.getPath
    }
    System.setProperty("java.io.tmpdir", tmp)
    val t0 = System.nanoTime()
    spark = SparkSession.builder().master(s"local[${cfg.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    val prewarm = wl.prewarm.map { m =>
      val t = System.nanoTime()
      try Workloads.prewarmHooks(m)(spark, cfg.fixture)
      catch { case NonFatal(e) => failures(s"prewarm:$m") = e.toString }
      m -> secs(t)
    }.toMap
    val tp = System.nanoTime()
    val byOp = entries.indices.map { i =>
      val t = System.nanoTime()
      ops(i) match {
        case Some(op) =>
          try op.build(spark, cfg.fixture).collect()
          catch { case NonFatal(e) => failures(entries(i).op) = e.toString }
        case None => failures(entries(i).op) = "op not in the registry"
      }
      entries(i) -> secs(t)
    }
    Setup(secs(t0), sessionS, prewarm, secs(tp), byOp, failures.toMap)
  }

  // ----------------------------------------------------------- timed loop

  /** Traced-run state: the span store and the listeners that fill it. */
  final class Trace {
    val tracer = new Tracer
    val events = new Tracer.SparkEvents(tracer)
    val writes = new Tracer.Writes(tracer)
    val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def span(id: Long, parent: Long, name: String, t0: Long, t1: Long,
        attrs: Map[String, Any] = Map.empty): Unit =
      tracer.add(Span(id, parent, name, t0 + epochOffsetNs, t1 + epochOffsetNs, attrs))
  }

  private def execute(i: Int, trace: Option[Trace]): Exec = ops(i) match {
    case None => Exec(i, ran = false, 0.0, 0.0, None, Some("op not in the registry"))
    case Some(op) =>
      val sc = spark.sparkContext
      val root = trace.map(_.tracer.nextId())
      root.foreach(id => sc.setLocalProperty(Tracer.ExecProp, id.toString))
      var result: Option[(StructType, Array[Row])] = None
      var error: Option[String] = None
      var df: DataFrame = null
      val clientCpu0 = threadBean.getCurrentThreadCpuTime
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      var tBuilt, tPlanned = t0
      try {
        df = op.build(spark, cfg.fixture)
        tBuilt = System.nanoTime()
        // traced runs plan first, so planning gets its own span
        if (trace.isDefined) df.queryExecution.executedPlan
        tPlanned = System.nanoTime()
        result = Some((df.schema, df.collect()))
      } catch { case NonFatal(e) => error = Some(e.toString) }
      val t1 = System.nanoTime()
      val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      val clientCpuS = (threadBean.getCurrentThreadCpuTime - clientCpu0) / 1e9
      // the clock has stopped: fingerprint the rows, then trace bookkeeping
      val digest = result.map { case (schema, rows) => Canon.digest(schema, rows) }
      for (tr <- trace; id <- root) {
        sc.setLocalProperty(Tracer.ExecProp, null)
        val m = entries(i).module
        val t = tr.tracer
        tPlanned = math.max(tPlanned, tBuilt)
        tr.span(id, 0L, "op", t0, t1, Map("op" -> op.name, "module" -> m,
          "ok" -> error.isEmpty, "rows" -> result.map(_._2.length).getOrElse(0)))
        tr.span(t.nextId(), id, "build", t0, tBuilt)
        tr.span(t.nextId(), id, "plan", tBuilt, tPlanned)
        tr.span(t.nextId(), id, "exec", tPlanned, t1)
        t.bump(s"ops.$m.build_s", (tBuilt - t0) / 1e9)
        t.bump(s"ops.$m.plan_s", (tPlanned - tBuilt) / 1e9)
        t.bump(s"ops.$m.exec_s", (t1 - tPlanned) / 1e9)
        if (error.isDefined) t.bump(s"ops.$m.failed", 1)
        t.bump("driver.client_cpu_s", clientCpuS)
        result.foreach { case (_, rows) => t.bump("rows_out", rows.length) }
        if (error.isEmpty) {
          val stats = PlanStats.inspect(df.queryExecution.executedPlan)
          stats.foreach { case (k, v) => t.bump(k, v) }
          if (stats("functions.expr_nodes") > 0) t.bump("functions.op_exec_s", (t1 - tPlanned) / 1e9)
        }
      }
      Exec(i, ran = true, (t1 - t0) / 1e9, cpuS, digest, error)
  }

  private def loop(rounds: Int, trace: Option[Trace]): Vector[Exec] =
    (0 until rounds).flatMap(r => round(r).map(i => execute(i, trace))).toVector

  // ------------------------------------------------------------- measures

  private def percentile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0 else {
      val h = (sorted.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  private def lakeMb(): Double = lakeDirs.map(du).sum / 1e6

  /** Driver heap after a full GC. The listener bus is drained first, since
    * Spark's status store keeps state for every query it has seen, and GC
    * repeats until the heap stops shrinking: Spark's ContextCleaner frees
    * broadcasts and shuffles only after a GC has found them unreachable. */
  private def heapAfterGcMb(): Double = {
    ListenerBusDrain(spark.sparkContext)
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = Double.MaxValue
    var cur = used()
    var tries = 0
    while (prev - cur > 0.5 && tries < 8) {
      Thread.sleep(250)
      prev = cur; cur = used(); tries += 1
    }
    math.min(prev, cur)
  }

  private def endToEnd(execs: Seq[Exec], ok: Exec => Boolean): Map[String, Double] = {
    val lat = execs.filter(_.ran).map(_.wallS).sorted.toIndexedSeq
    val attempted = execs.size.toDouble
    val correct = execs.count(ok).toDouble
    Map(
      "throughput_qps" -> (if (lat.sum > 0) correct / lat.sum else 0.0),
      "latency_p50_s" -> percentile(lat, 0.5),
      "latency_p90_s" -> percentile(lat, 0.9),
      "correct_frac" -> correct / attempted,
      "cpu_s_per_op" -> execs.map(_.cpuS).sum / attempted)
  }

  private def samples(execs: Seq[Exec]): Map[String, Any] = {
    val n = execs.count(_.ran)
    Map("latency_samples" -> n,
      "beyond_p50" -> (n - math.ceil(0.5 * (n - 1)).toInt - 1),
      "beyond_p90" -> (n - math.ceil(0.9 * (n - 1)).toInt - 1))
  }

  /** Oracle fingerprints, read back through Spark from the DuckDB results
    * in a clean session clone (the ops set session confs). */
  private def oracleResults(): Map[String, (String, (String, Array[String]))] = {
    val s = spark.newSession()
    cfg.oracles.flatMap { case (op, path) =>
      try {
        val df = s.read.parquet(path)
        val rows = df.collect()
        Some(op -> (Canon.digest(df.schema, rows), Canon.lines(df.schema, rows)))
      } catch { case NonFatal(_) => None }
    }
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------------ run

  def apply(): Unit = {
    val jvmToSetupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupRun = setup()
    val artifactLakeMb = lakeMb()
    val artifactBlocksMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

    // A fixed amount of work per run, one round per RoundS of --seconds:
    // the same sample count and op mix on every run and commit, however
    // fast the machine is that minute. A traced run splits the rounds
    // between an untraced and a traced loop over the same schedule.
    val rounds = math.max(1, math.round(cfg.seconds / Run.RoundS).toInt)
    val plainRounds = if (cfg.trace) math.max(1, rounds / 2) else rounds
    val loopStart = System.nanoTime()
    val plain = loop(plainRounds, None)
    val loopS = secs(loopStart)
    val heapMb = heapAfterGcMb()
    val lakeEndMb = lakeMb()

    val traced = if (!cfg.trace) None else {
      val tr = new Trace
      val sc = spark.sparkContext
      ListenerBusDrain(sc)
      sc.addSparkListener(tr.events)
      spark.listenerManager.register(tr.writes)
      val execs = loop(plainRounds, Some(tr))
      ListenerBusDrain(sc)
      sc.removeSparkListener(tr.events)
      spark.listenerManager.unregister(tr.writes)
      Some((tr, execs))
    }

    // correctness, after every clock has stopped
    val oracle = oracleResults()
    def ok(e: Exec): Boolean =
      e.error.isEmpty && e.digest.isDefined && oracle.get(entries(e.idx).op).exists(_._1 == e.digest.get)
    val all = plain ++ traced.map(_._2).getOrElse(Vector.empty)
    val failures = mutable.LinkedHashMap.empty[String, String]
    all.filterNot(ok).foreach { e =>
      val name = entries(e.idx).op
      if (!failures.contains(name)) failures(name) = e.error.getOrElse {
        oracle.get(name) match {
          case None => "no oracle result"
          case Some((_, expected)) =>
            // one more run, outside every measurement, to show the difference
            try {
              val df = ops(e.idx).get.build(spark, cfg.fixture)
              Canon.firstDiff(expected, Canon.lines(df.schema, df.collect()))
            } catch { case NonFatal(x) => x.toString }
        }
      }
    }

    val e2e = endToEnd(plain, ok) ++ Map(
      "setup_s" -> setupRun.totalS,
      "heap_retained_mb" -> heapMb,
      "lake_stored_mb" -> lakeEndMb)

    val perLayer: Map[String, Double] = traced match {
      case None => Map.empty
      case Some((tr, execs)) =>
        val n = execs.size.toDouble
        val c = tr.tracer.counters.withDefaultValue(0.0)
        val (stateRows, stateMb) = tr.events.stateTotals
        val tracedE2e = endToEnd(execs, ok)
        val plainE2e = endToEnd(plain, ok)
        Workloads.perExecCounters.map(k => k -> c(k) / n).toMap ++
          SpanMath.selfTimes(tr.tracer.spans).map { case (k, v) => k -> v / n } ++ Map(
            "tables.rows_read_per_row_out" ->
              (if (c("rows_out") > 0) c("tables.scan_rows") / c("rows_out") else 0.0),
            "streaming.state_rows" -> stateRows / n,
            "streaming.state_mem_mb" -> stateMb / n,
            "artifacts.storage_mb" -> artifactBlocksMb,
            "artifacts.lake_mb" -> artifactLakeMb,
            "setup.session_s" -> setupRun.sessionS,
            "setup.pass_s" -> setupRun.passS) ++
          Workloads.modules.map(m => s"setup.pass_s.$m" -> setupRun.passByModule(m)) ++
          Workloads.prewarmHooks.keys.map(m => s"artifacts.prewarm_s.$m" -> setupRun.prewarmS.getOrElse(m, 0.0)) ++
          Seq("throughput_qps", "latency_p50_s", "latency_p90_s", "cpu_s_per_op").map { k =>
            s"overhead.$k" -> (tracedE2e(k) - plainE2e(k))
          }
    }

    traced.foreach { case (tr, _) =>
      Files.write(Paths.get(cfg.spans), tr.tracer.spans.map(_.toJson).asJava, UTF_8)
    }

    val opList = entries.map(e => s"${e.module}/${e.op}").mkString("\n")
    val result = Map(
      "workload" -> cfg.workload,
      "correct" -> failures.isEmpty,
      "attempted" -> all.size,
      "failed" -> all.count(e => !ok(e)),
      "metrics" -> e2e,
      "per_layer" -> perLayer,
      "samples" -> samples(plain),
      "rounds" -> plainRounds,
      "failures" -> failures,
      "setup_failures" -> setupRun.failures,
      "setup_phases" -> Map("jvm_to_setup_s" -> jvmToSetupS, "session_s" -> setupRun.sessionS,
        "prewarm_s" -> setupRun.prewarmS, "pass_s" -> setupRun.passS, "loop_s" -> loopS),
      "setup_pass_by_op" -> setupRun.passByOp.map { case (e, t) => e.op -> t }.toMap,
      "executions" -> plain.map(e => Seq(entries(e.idx).op, e.wallS, e.cpuS)),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "local_cores" -> cfg.cpus,
        "SPARK_GRAFT_CPUS" -> sys.env.get("SPARK_GRAFT_CPUS"),
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1000000L,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "seed" -> cfg.seed,
        "seconds" -> cfg.seconds,
        "trace" -> cfg.trace,
        "fixture" -> new File(cfg.fixture).getName,
        "op_count" -> entries.size,
        "op_list_sha256" -> sha256(opList)))
    spark.stop()
    Files.writeString(Paths.get(cfg.result), Json(result))
  }
}

object Run {
  val RoundS = 7.0
}

/** Self time of each span kind: its duration minus the part of it that
  * its children cover. Spark jobs are children of the op span and are
  * charged to the build, plan or exec span they overlap; build, plan and
  * exec tile the op span, so it has no self time. */
object SpanMath {
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS, curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def clip(iv: Seq[(Long, Long)], s: Span) =
      iv.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }.filter(x => x._2 > x._1)
    spans.filter(_.name == "op").foreach { root =>
      val kids = byParent.getOrElse(root.id, Nil)
      val phases = kids.filter(k => Set("build", "plan", "exec")(k.name))
      val jobs = kids.filter(_.name == "spark.job")
      val jobIv = jobs.map(j => (j.startNs, j.endNs))
      phases.foreach { p =>
        out(s"self_s.${p.name}") += (p.endNs - p.startNs - union(clip(jobIv, p))) / 1e9
      }
      jobs.foreach { j =>
        val stages = byParent.getOrElse(j.id, Nil)
        out("self_s.spark_job") +=
          (j.endNs - j.startNs - union(clip(stages.map(s => (s.startNs, s.endNs)), j))) / 1e9
        stages.foreach(s => out("self_s.spark_stage") += (s.endNs - s.startNs) / 1e9)
      }
    }
    Seq("build", "plan", "exec", "spark_job", "spark_stage")
      .map(k => s"self_s.$k" -> out(s"self_s.$k")).toMap
  }
}
