package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM runs one workload for one seed.
  *
  * Modes (first argument):
  *  - `run`: set up, run timed passes of the workload's ops as a closed
  *    loop with one client, check every output, and write a run record
  *    (`--out`). With `--trace 1` passes alternate between untraced and
  *    traced, and the record carries the per-layer metrics.
  *  - `gen`: write the fixed sf0.1 input tables (the program's own
  *    deterministic generator, run at `local[cores]`).
  *  - `survey`: build and execute every registry query once cold and
  *    once warm; print one JSON line per query with the tables it
  *    scanned, its timings, row count and digest.
  *
  * Each layer is timed from outside, around calls into its public
  * functions; Spark's listener and the executed plans give the work
  * each op did. The harness catches only non-fatal errors: an
  * OutOfMemoryError or LinkageError aborts the run. */
object Harness {

  val mapper = new ObjectMapper()

  final class Opts(args: Seq[String]) {
    private val kv = args.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args.toSeq.drop(1))
    try args.headOption match {
      case Some("run") => Run(o).run()
      case Some("gen") => gen(o)
      case Some("survey") => survey(o, args.toSeq.drop(1).dropWhile(_ != "--").drop(1))
      case Some("oracle-sql") =>
        val m = mapper.createObjectNode()
        graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        println(mapper.writeValueAsString(m))
      case _ =>
        System.err.println("usage: Harness run|gen|survey --key value ...")
        sys.exit(2)
    } catch {
      case e: Throwable if !NonFatal(e) =>
        System.err.println(s"[perfbench] FATAL ${e.getClass.getName}: " +
          s"${e.getMessage} -- run aborted, no result")
        e.printStackTrace()
        Runtime.getRuntime.halt(3)
    }
  }

  def session(o: Opts): SparkSession = {
    val cores = o("--cores").toInt
    val work = o("--work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gen(o: Opts): Unit = {
    val spark = session(o)
    val cores = o("--cores")
    // The generator asks getOrCreate for local[32]; the session above
    // already exists, so only its shuffle width would change. Keep it
    // at the host's core count.
    spark.conf.set("spark.sql.shuffle.partitions", cores)
    graft.tools.GenSf.main(Array(o("--data"), "1"))
  }

  /** Tables an analyzed plan reads, by base name of the scanned path. */
  def scannedTables(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Set[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    plan.collectLeaves().flatMap {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _ => Nil
    }.toSet
  }

  private def survey(o: Opts, only: Seq[String]): Unit = {
    val root = session(o)
    val data = o("--data")
    val seen = mutable.Set.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      d: Long): Unit = seen.synchronized {
          seen ++= scannedTables(qe.analyzed)
        }
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
    val names = if (only.nonEmpty) only else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // a fresh session per query: the registry memoizes artifacts per
      // session, so each query builds its own and its actions show every
      // table it reads
      val spark = root.newSession()
      spark.listenerManager.register(listener)
      val line = mapper.createObjectNode()
      line.put("name", name)
      try {
        seen.synchronized(seen.clear())
        val t0 = System.nanoTime()
        val df = fn(spark, data)
        val t1 = System.nanoTime()
        val (rows, digest) = Digest.of(df)
        val t2 = System.nanoTime()
        val df2 = fn(spark, data)
        df2.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        val plan = scannedTables(df.queryExecution.analyzed)
        val during = seen.synchronized(seen.toSet)
        line.put("build_s", (t1 - t0) / 1e9)
        line.put("cold_s", (t2 - t0) / 1e9)
        line.put("warm_s", (t3 - t2) / 1e9)
        line.put("rows", rows)
        line.put("digest", digest)
        val arr = line.putArray("plan_tables")
        plan.toSeq.sorted.foreach(arr.add)
        val arr2 = line.putArray("action_tables")
        during.toSeq.sorted.foreach(arr2.add)
      } catch {
        case NonFatal(e) =>
          line.put("error", String.valueOf(e.getMessage).linesIterator
            .nextOption().getOrElse(e.getClass.getName).take(300))
      }
      Run.dropCaches(spark)
      println(mapper.writeValueAsString(line))
      Console.out.flush()
    }
  }
}

/** One measured run of one workload. */
final case class Run(o: Harness.Opts) {
  import Harness.mapper
  import Run.Phase

  private val workload = o("--workload")
  private val seed = o("--seed").toLong
  private val seconds = o("--seconds").toDouble
  private val traced = o("--trace") == "1"
  private val cores = o("--cores").toInt
  private val bench = o("--bench")
  private val work = o("--work")
  private val data = o("--data")
  private val opTimeoutS = 60L

  private val tracer = new Tracer
  private var probe: SparkProbe = _
  private var spark: SparkSession = _

  // run-wide tallies
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var heapPeakMb = 0.0
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    layer(k) = layer.getOrElse(k, 0.0) + v

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  private def readJson(p: String): JsonNode = mapper.readTree(new File(p))

  /** Heap live after an explicit full collection, outside every timer:
    * each heap pool's usage as the collection left it, so objects other
    * threads allocate after it do not count. */
  private def liveHeapMb(): Unit = {
    System.gc()
    // Spark's cleaner frees broadcast and shuffle blocks of the objects
    // that collection found unreachable; let it, then collect again
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
  }

  /** /proc/stat (steal, total) jiffies of the whole host. */
  private def cpuStat(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = Files.readAllLines(f).asScala.find(_.startsWith("cpu "))
      cpu.map { l =>
        val v = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      }.getOrElse((0L, 0L))
    }
  }

  /** Unpersist every cached RDD except locally checkpointed ones
    * (whose blocks are their only copy): the policy of `graft.Bench`,
    * but waiting for the blocks to go. Returns (unpinned RDDs found,
    * pinned MB). */
  private def dropCaches(): (Int, Double) = Run.dropCaches(spark)

  /** Run `body` under job group `group`, cancelling the group's jobs
    * if it runs past the per-op time limit. */
  private def underGroup[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val timer = Run.watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, opTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
    try body
    finally { timer.cancel(false); sc.clearJobGroup() }
  }

  private def errLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage)
      .linesIterator.nextOption().getOrElse("").take(200)

  // ---------------------------------------------------------------
  // per-layer accounting of one traced phase
  // ---------------------------------------------------------------

  /** Fold what the listener saw for the span `id` into the layer
    * totals; returns the span's self time (its duration less the time
    * its Spark jobs cover). */
  private def account(id: Int, exec: Option[PlanStats]): Double = {
    probe.drain()
    val span = tracer.all(id)
    val g = probe.take(s"pb-$id")
    val plans = exec.fold(probe.takeActionPlans())(_ + probe.takeActionPlans())
    val jobIv = g.jobs.map(_.interval)
    val jobCovered = Trace.covered(span.interval, jobIv)
    val t = g.totals
    add("exec.s", jobCovered / 1000)
    add("exec.jobs", g.jobs.size)
    add("exec.stages", g.stages.count(_.totals.tasks > 0))
    add("exec.tasks", t.tasks)
    add("exec.task_run_s", t.runMs / 1000.0)
    add("exec.task_cpu_s", t.cpuNs / 1e9)
    add("exec.gc_s", t.gcMs / 1000.0)
    add("exec.task_wait_s", t.waitMs / 1000.0)
    add("exec.task_failures", t.failures)
    add("ops.exchanges", plans.exchanges)
    add("ops.broadcasts", plans.broadcasts)
    add("ops.shuffle_write_bytes", t.shuffleWriteBytes)
    add("ops.shuffle_read_bytes", t.shuffleReadBytes)
    add("ops.shuffle_write_s", t.shuffleWriteNs / 1e9)
    add("ops.fetch_wait_s", t.fetchWaitMs / 1000.0)
    add("ops.spill_bytes", t.spillBytes)
    add("ops.agg_s", plans.aggMs / 1000.0)
    add("ops.sort_s", plans.sortMs / 1000.0)
    layer("ops.peak_exec_mem_mb") = math.max(
      layer.getOrElse("ops.peak_exec_mem_mb", 0.0), t.peakExecMem / 1048576.0)
    add("functions.native_nodes", plans.nativeNodes)
    add("functions.fallback_nodes", plans.fallbackNodes)
    val kernelScopes = plans.kernelCodegenStages.map(i => s"WholeStageCodegen ($i)")
    add("functions.kernel_stage_s", g.stages
      .filter(_.scopes.exists(kernelScopes))
      .flatMap(_.interval).map(_.duration).sum / 1000)
    add("io.scan_rows", plans.scanRows)
    add("io.scan_bytes", plans.scanBytes)
    add("io.scan_files", plans.scanFiles)
    add("io.scan_s", plans.scanMs / 1000.0)
    add("io.write_rows", plans.writeRows)
    add("io.write_bytes", plans.writeBytes)
    add("io.write_files", plans.writeFiles)
    add("io.commit_s", g.writeSpans.map(w =>
      Trace.selfTime(w, jobIv)).sum / 1000)
    jobSpans ++= g.jobs.map(j => (id, j))
    stageSpans ++= g.stages
    Trace.selfTime(span.interval, jobIv) / 1000
  }

  private val jobSpans = mutable.ArrayBuffer.empty[(Int, JobRec)]
  private val stageSpans = mutable.ArrayBuffer.empty[StageRec]

  /** Time `body` as one phase of an op: a traced span when this pass is
    * traced, else a bare timer. `exec` names the plan the phase executed
    * itself (Dataset actions are seen by the listener). */
  private def phase[A](name: String, parent: Int, tracing: Boolean)
                      (body: => A)(exec: A => Option[PlanStats] = (_: A) => None)
      : Phase[A] =
    if (!tracing) {
      val t0 = System.nanoTime()
      val r = underGroup("pb-untraced")(body)
      Phase(r, (System.nanoTime() - t0) / 1e9, 0.0, -1)
    } else {
      val t0 = System.nanoTime()
      val id = tracer.open(name, parent)
      val r = try underGroup(s"pb-$id")(body) finally tracer.close(id)
      val dt = (System.nanoTime() - t0) / 1e9
      Phase(r, dt, account(id, exec(r)), id)
    }

  // ---------------------------------------------------------------
  // workloads
  // ---------------------------------------------------------------

  /** A workload: its ops, their warmup, and one timed execution of an
    * op, which checks the op's output and counts a failure. */
  private trait Workload {
    def ops: Seq[String]
    /** Ops the warmup runs once each, before any timing. */
    def warmupOps: Seq[String] = ops
    def warmup(op: String): Unit
    /** Untimed passes after the warmup, in seeded order: the JIT settles
      * on code that serves every op only once the ops interleave. */
    def warmPasses: Int = 0
    /** Returns the op's latency in seconds. */
    def timed(op: String, parent: Int, tracing: Boolean): Double
    def inputRowsPerPass: Double
    def beforePass(pass: Int): Unit = ()
    def afterPass(pass: Int, tracing: Boolean): Unit = ()
    def passOrder(pass: Int): Seq[String]
  }

  private final class Registry(split: String) extends Workload {
    private val expected = readJson(s"$bench/expected.json")
    val ops: Seq[String] = readJson(s"$bench/workloads.json").get(split)
      .elements().asScala.map(_.asText).toSeq
    private val fns = graft.SparkEntry.queries
    ops.foreach(n => require(fns.contains(n), s"registry has no op $n"))
    private val scanRows = mutable.Map.empty[String, Long]
    def inputRowsPerPass: Double = scanRows.values.sum.toDouble

    private def exp(op: String) = Option(expected.get(op))

    /** Runs `op` once, checking its full result. */
    def warmup(op: String): Unit = {
      attempted += 1
      try {
        val df = underGroup("pb-warmup")(fns(op)(spark, data))
        val (n, d) = underGroup("pb-warmup")(Digest.of(df))
        scanRows(op) = PlanStats.of(df.queryExecution.executedPlan).scanRows
        exp(op) match {
          case None => fail(s"$op: no expected result recorded")
          case Some(e) =>
            if (e.get("rows").asLong != n || e.get("digest").asText != d)
              fail(s"$op: got rows=$n digest=$d, expected " +
                s"rows=${e.get("rows").asLong} digest=${e.get("digest").asText}")
        }
      } catch { case NonFatal(e) => fail(s"$op warmup: ${errLine(e)}") }
      finally dropCaches()
    }

    override def warmPasses: Int = 3

    def passOrder(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    def timed(op: String, parent: Int, tracing: Boolean): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        if (!tracing) {
          val n = underGroup(s"pb-$op") {
            fns(op)(spark, data).queryExecution.toRdd.count()
          }
          val dt = (System.nanoTime() - t0) / 1e9
          check(op, n)
          dt
        } else {
          val opId = tracer.open(op, parent)
          val n = try {
            val build = phase("build", opId, true)(fns(op)(spark, data))()
            add("queries.build_s", build.selfSeconds)
            add("queries.build_jobs", jobSpans.count(_._1 == build.span))
            val df = build.result
            phase("exec", opId, true)(df.queryExecution.toRdd.count())(
              _ => Some(PlanStats.of(df.queryExecution.executedPlan))).result
          } finally tracer.close(opId)
          val dt = (System.nanoTime() - t0) / 1e9
          check(op, n)
          dt
        }
      } catch {
        case NonFatal(e) =>
          fail(s"$op: ${errLine(e)}")
          (System.nanoTime() - t0) / 1e9
      } finally {
        val (leaked, pinned) = dropCaches()
        if (tracing) {
          add("cache.leaked_rdds", leaked)
          layer("cache.pinned_mb") = math.max(
            layer.getOrElse("cache.pinned_mb", 0.0), pinned)
        }
      }
    }

    private def check(op: String, n: Long): Unit = exp(op).foreach { e =>
      if (e.get("rows").asLong != n)
        fail(s"$op: got rows=$n, expected ${e.get("rows").asLong}")
    }
  }

  private final class Etl extends Workload {
    private val input = s"$work/etl-input"
    private val truth = readJson(s"$input/truth.json")
    private val days = truth.get("days").size
    private val tables = graft.schema.Schemas.operational.keys.toSeq.sorted
    val ops: Seq[String] = (1 to days).map(d => f"day$d%02d") :+ "rerun"
    def inputRowsPerPass: Double = truth.get("rows_staged").asDouble
    private var passDir: Path = _
    private var arrived = 0 // days staged in the current pass
    private def staging = s"$passDir/staging"
    private def store = s"$passDir/store"
    private def mart = s"$passDir/mart"

    private def fresh(tag: String): Unit = {
      passDir = Paths.get(work, "etl-run", tag)
      Run.deleteTree(passDir)
      Files.createDirectories(passDir)
      arrived = 0
    }

    /** Day `d`'s extracted CSVs land in the staging prefix. */
    private def arrive(op: String): Unit = if (op != "rerun") {
      arrived += 1
      val src = Paths.get(input, op)
      tables.foreach { t =>
        val to = Paths.get(staging, t)
        Files.createDirectories(to)
        Files.list(src.resolve(t)).iterator().asScala.foreach { f =>
          Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }

    /** Truth after the days staged so far; a re-run stages nothing. */
    private def dayTruth: JsonNode = truth.get("days").get(arrived - 1)

    private def runOp(op: String, parent: Int, tracing: Boolean): (Double, Map[String, Long], Map[String, Long]) = {
      val t0 = System.nanoTime()
      var loaded = Map.empty[String, Long]
      var martRows = Map.empty[String, Long]
      val dayId = if (tracing) tracer.open(op, parent) else -1
      try {
        // Pipeline.run order: DDL, incremental load, mart rebuild
        val ddl = phase("ddl", dayId, tracing) {
          graft.schema.Schemas.operational.foreach { case (t, s) =>
            graft.io.Staging.ensureTable(spark, store, t, s)
          }
        }()
        val load = phase("load", dayId, tracing)(
          graft.etl.OperationalLoad.run(spark, staging, store))()
        val m = phase("mart", dayId, tracing)(
          graft.etl.MartBuild.run(spark, store, mart))()
        loaded = load.result; martRows = m.result
        if (tracing) {
          add("etl.ddl_s", ddl.seconds); add("etl.load_s", load.seconds)
          add("etl.mart_s", m.seconds)
          add("etl.self_s", ddl.selfSeconds + load.selfSeconds + m.selfSeconds)
          add("etl.rows_loaded", loaded.values.sum)
        }
      } finally if (tracing) tracer.close(dayId)
      ((System.nanoTime() - t0) / 1e9, loaded, martRows)
    }

    private def check(op: String, loaded: Map[String, Long],
                      martRows: Map[String, Long]): Unit = {
      val t = dayTruth
      val wantLoaded = if (op == "rerun") tables.map(_ -> 0L).toMap
        else tables.map(x => x -> t.get("loaded").get(x).asLong).toMap
      if (loaded != wantLoaded) fail(s"etl $op: loaded $loaded, expected $wantLoaded")
      val wantMart = t.get("mart").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap
      if (martRows != wantMart) fail(s"etl $op: mart $martRows, expected $wantMart")
      val storeRows = tables.map(x => x -> graft.io.ParquetFooters.rowCount(
        spark, Seq(s"$store/$x"))).toMap
      val wantStore = tables.map(x => x -> t.get("store").get(x).asLong).toMap
      if (storeRows != wantStore) fail(s"etl $op: store $storeRows, expected $wantStore")
    }

    /** Every ETL op runs the same DDL, load and mart code, so the first
      * day warms them all. */
    override def warmupOps: Seq[String] = Seq(ops.head)

    def warmup(op: String): Unit = {
      if (op == ops.head) fresh("warmup")
      attempted += 1
      try {
        arrive(op)
        val (_, l, m) = runOp(op, -1, tracing = false)
        check(op, l, m)
      } catch { case NonFatal(e) => fail(s"etl warmup $op: ${errLine(e)}") }
    }

    override def beforePass(pass: Int): Unit = fresh(s"pass$pass")

    def passOrder(pass: Int): Seq[String] = ops

    def timed(op: String, parent: Int, tracing: Boolean): Double = {
      attempted += 1
      arrive(op)
      val t0 = System.nanoTime()
      try {
        val (dt, l, m) = runOp(op, parent, tracing)
        check(op, l, m)
        dt
      } catch {
        case NonFatal(e) =>
          fail(s"etl $op: ${errLine(e)}")
          (System.nanoTime() - t0) / 1e9
      }
    }

    override def afterPass(pass: Int, tracing: Boolean): Unit = if (tracing) {
      add("etl.rows_staged", truth.get("rows_staged").asDouble)
      add("io.store_bytes_ratio",
        (Run.treeBytes(Paths.get(store)) + Run.treeBytes(Paths.get(mart))).toDouble /
          truth.get("staged_bytes").asDouble)
    }
  }

  // ---------------------------------------------------------------

  private def floorProbe(): Double = {
    val fns = graft.SparkEntry.queries
    Run.floorOps.map { q =>
      val t0 = System.nanoTime()
      underGroup("pb-floor")(fns(q)(spark, data).queryExecution.toRdd.count())
      val dt = (System.nanoTime() - t0) / 1e9
      dropCaches()
      dt
    }.sum
  }

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val (steal0, total0) = cpuStat()
    spark = Harness.session(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    probe = new SparkProbe(spark)
    if (traced) probe.attach()
    probe.recording = false

    val t0 = System.nanoTime()
    val w: Workload = workload match {
      case "analytics_sf01" | "corpus_sf01" => new Registry(workload)
      case "etl_daily" => new Etl
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputgenS = o("--inputgen-s").toDouble + (System.nanoTime() - t0) / 1e9

    // traced runs probe the host's floor before the warmup and after the
    // timed passes; the first timing includes the probes' own code
    // generation. Run between warmup and timing, their new generated
    // classes would make the JIT recompile hot paths during the first
    // timed pass.
    val floorStart = if (traced) floorProbe() else Double.NaN

    val tw = System.nanoTime()
    w.warmupOps.foreach { op =>
      val t = System.nanoTime()
      w.warmup(op)
      System.err.println(f"[perfbench] warmup $op ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    (1 to w.warmPasses).foreach { i =>
      val t = System.nanoTime()
      w.passOrder(-i).foreach(op => w.timed(op, -1, tracing = false))
      System.err.println(f"[perfbench] warm pass $i ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    // everything before the first timed pass: session, inputs, the
    // start floor probes of a traced run, the warmup and the warm passes
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0 + o("--inputgen-s").toDouble
    liveHeapMb()

    // timed passes: a closed loop, one op at a time
    val passTotals = mutable.ArrayBuffer.empty[Double]     // untraced
    val tracedTotals = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // a pass starts only when at least half of one as long as the last
    // falls in the window: an `etl_daily` pass takes half of it, and
    // the run should measure about `seconds`, not up to a pass more
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lastPassNs = 0L
    var pass = 0
    val workloadSpan = if (traced) tracer.open(workload, -1) else -1
    do {
      val passStart = System.nanoTime()
      // traced runs alternate untraced and traced passes, so the two
      // totals come from one window and their gap is the trace overhead
      val tracing = traced && pass % 2 == 1
      if (traced) probe.drain() // events of the previous pass stay out
      probe.recording = tracing
      w.beforePass(pass)
      var total = 0.0
      val passId = if (tracing) tracer.open(s"pass$pass", workloadSpan) else -1
      w.passOrder(pass).foreach { op =>
        val dt = w.timed(op, passId, tracing)
        total += dt
        if (!traced || tracing) {
          latencies += dt
          perOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += dt
        }
      }
      if (tracing) tracer.close(passId)
      probe.recording = false
      w.afterPass(pass, tracing)
      (if (tracing) tracedTotals else passTotals) += total
      liveHeapMb()
      pass += 1
      lastPassNs = System.nanoTime() - passStart
    } while (System.nanoTime() + lastPassNs / 2 <= deadline ||
      (traced && tracedTotals.isEmpty))
    if (traced) tracer.close(workloadSpan)
    val floorEnd = if (traced) floorProbe() else Double.NaN
    val (steal1, total1) = cpuStat()

    val stealFrac =
      if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    val totalS = Run.median(if (traced) tracedTotals.toSeq else passTotals.toSeq)
    val (tailQ, tailN) = Run.tailQuantile(latencies.size)
    val tail = Run.hdQuantile(latencies.toSeq, tailQ)

    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "total_s" -> totalS,
      "op_p50_s" -> Run.hdQuantile(latencies.toSeq, 0.5),
      "op_tail_s" -> tail,
      "ok_frac" -> (attempted - failed).toDouble / attempted,
      "heap_live_peak_mb" -> heapPeakMb,
      "rows_per_s" -> w.inputRowsPerPass / totalS)

    if (traced) {
      // a layer the workload does not reach reads 0
      readJson(s"$bench/../BENCHMARK.json").get("per_layer").elements().asScala
        .foreach(m => layer.getOrElseUpdate(m.get("name").asText, 0.0))
      val n = tracedTotals.size.toDouble
      val perPass = layer.map { case (k, v) =>
        k -> (if (k == "ops.peak_exec_mem_mb" || k == "cache.pinned_mb") v else v / n)
      }
      metrics.clear()
      metrics ++= perPass
      metrics ++= Seq("setup.session_s" -> sessionS,
        "setup.inputgen_s" -> inputgenS, "setup.warmup_s" -> warmupS)
      val execS = perPass.getOrElse("exec.s", 0.0)
      metrics("exec.core_busy_frac") =
        if (execS > 0) perPass.getOrElse("exec.task_run_s", 0.0) / (execS * cores) else 0.0
      val staged = perPass.getOrElse("etl.rows_staged", 0.0)
      metrics("etl.load_yield") =
        if (staged > 0) perPass.getOrElse("etl.rows_loaded", 0.0) / staged else 0.0
      metrics("host.steal_frac") = stealFrac
      metrics("host.floor_s") = (floorStart + floorEnd) / 2
      metrics("trace.total_s") = totalS
      metrics("trace.untraced_total_s") = Run.median(passTotals.toSeq)
      metrics("trace.overhead_s") = totalS - Run.median(passTotals.toSeq)
    }

    // trace sanity: every child lies within its parent (1 ms slack for
    // the listener's millisecond clock)
    val spans = tracer.all
    val children = spans.groupBy(_.parent)
    def outside(parent: Interval, kids: Seq[Interval]) =
      kids.exists(k => k.start < parent.start - 1 || k.end > parent.end + 1)
    val stagesOf = stageSpans.groupBy(_.job)
    val overruns = spans.count { s =>
      outside(s.interval, children.getOrElse(s.id, Nil).map(_.interval) ++
        jobSpans.collect { case (id, j) if id == s.id => j.interval })
    } + jobSpans.count { case (_, j) =>
      outside(j.interval, stagesOf.getOrElse(j.id, Nil).flatMap(_.interval).toSeq)
    }

    val rec = mapper.createObjectNode()
    rec.put("workload", workload)
    rec.put("seed", seed)
    rec.put("trace", if (traced) 1 else 0)
    rec.put("correct", failed == 0 && overruns == 0)
    rec.put("attempted", attempted)
    rec.put("failed", failed)
    val m = rec.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    val d = rec.putObject("detail")
    d.put("passes_untraced", passTotals.size)
    d.put("passes_traced", tracedTotals.size)
    d.put("ops_per_pass", w.ops.size)
    d.put("latency_samples", latencies.size)
    d.put("op_tail_quantile", tailQ)
    d.put("op_tail_samples_beyond", tailN)
    d.put("span_overruns", overruns)
    if (traced) {
      d.put("floor_start_s", floorStart)
      d.put("floor_end_s", floorEnd)
    }
    val pt = d.putArray("pass_totals_s")
    passTotals.foreach(x => pt.add(x))
    val tt = d.putArray("traced_pass_totals_s")
    tracedTotals.foreach(x => tt.add(x))
    val po = d.putObject("op_latencies_s")
    perOp.foreach { case (op, xs) =>
      val a = po.putArray(op); xs.foreach(x => a.add(x)) }
    val fl = d.putArray("failures")
    failures.foreach(fl.add)
    val host = d.putObject("host")
    host.put("nproc", cores)
    host.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
    host.put("jdk", System.getProperty("java.version"))
    host.put("spark", spark.version)
    host.put("steal_frac", stealFrac)
    host.put("floor_ops", Run.floorOps.mkString(","))
    Files.write(Paths.get(o("--out")), mapper.writeValueAsBytes(rec))

    if (traced) {
      val tr = mapper.createObjectNode()
      val arr = tr.putArray("spans")
      spans.foreach { s =>
        val n = arr.addObject()
        n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
        n.put("start_ms", s.start); n.put("end_ms", s.end)
      }
      val ja = tr.putArray("jobs")
      jobSpans.foreach { case (id, j) =>
        val n = ja.addObject()
        n.put("job", j.id); n.put("parent", id)
        n.put("start_ms", j.interval.start); n.put("end_ms", j.interval.end)
      }
      val sa = tr.putArray("stages")
      stageSpans.foreach { st =>
        st.interval.foreach { iv =>
          val n = sa.addObject()
          n.put("stage", st.id); n.put("job", st.job); n.put("tasks", st.totals.tasks)
          n.put("start_ms", iv.start); n.put("end_ms", iv.end)
        }
      }
      Files.write(Paths.get(o("--out") + ".trace.json"), mapper.writeValueAsBytes(tr))
    }
    spark.stop()
  }
}

object Run {
  final case class Phase[A](result: A, seconds: Double, selfSeconds: Double,
                            span: Int)
  val floorOps: Seq[String] = Seq("row_count", "broadcast_join", "sql_q3", "math_funcs")

  val watchdog: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }

  def dropCaches(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val (pinned, loose) = sc.getPersistentRDDs.values.toSeq
      .partition(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
    val pinnedIds = pinned.map(_.id).toSet
    val pinnedMb = sc.getRDDStorageInfo.filter(i => pinnedIds(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    loose.foreach(_.unpersist(blocking = true))
    (loose.size, pinnedMb)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell-Davis quantile: a Beta-weighted mean of all order
    * statistics. A run pools the latencies of a few ops with distinct
    * costs, and a plain sample quantile of such a pool jumps between
    * neighbouring ops from run to run; this estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val a = q * (n + 1)
      val b = (1 - q) * (n + 1)
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0
        else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  /** The highest quantile with at least ten of `n` samples beyond it,
    * and that number of samples; never below the median, so with fewer
    * than 20 samples it is the median and fewer than ten lie beyond. */
  def tailQuantile(n: Int): (Double, Int) =
    if (n < 20) (0.5, n / 2) else (1.0 - 10.0 / n, 10)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
