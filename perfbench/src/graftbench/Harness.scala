package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query mix and how it is driven: `clients` closed-loop callers
  * share one seeded queue of the mix per pass; `dump` writes each result
  * as parquet (the way `graft.Verify` does) instead of digesting it in
  * place. */
final case class Workload(name: String, clients: Int, dump: Boolean, queries: Seq[String])

object Workloads {
  val all: Seq[Workload] = Seq(
    // atlas-bounded iterative graph kernels: driver-bound loop rounds,
    // pins, probes and checkpoints
    Workload("graph_rounds", 1, dump = false, Seq(
      "q208_module_lpa", "q203_eigen_centrality")),
    // 2 callers writing results: the executor-bound voxel
    // design/stencil/GLM operators and the curation operators whose
    // standing dedup store is built during set-up. With 4 callers on 4
    // cores the CPU time of a pass varied by a third from pass to pass.
    Workload("dump_concurrent", 2, dump = true, Seq(
      "q16_boxcar_design", "q37_stencil_mode", "q163_reho", "q166_ppi_glm",
      "q22_jaccard_pairs", "q122_phash_multiprobe", "q90_standing_dedup")),
  )
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** One query execution: the query function call (build) and the action on
  * the DataFrame it returns (exec). */
final case class Execution(query: String, qid: String, pass: Int, client: Int,
    startMs: Long, endMs: Long, buildS: Double, execS: Double,
    error: Option[String], digest: Option[Digest.Value], output: Option[String])

/** The benchmark's JVM side. Runs one workload and writes every raw
  * measurement (set-up, passes, executions, digests and, when traced, job
  * spans) as one JSON document; `run.py` turns it into metrics.
  *
  * Usage: Harness workload=<name> seed=<n> seconds=<s> trace=<0|1>
  *          data=<dir> work=<dir> out=<file> cores=<n>
  *        Harness record=all data=<dir> work=<dir> out=<file> cores=<n>
  */
object Harness {
  val TagPrefix = "graftbench."
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val out = opt("out")
    val json = opt.get("record") match {
      case Some(_) => record(Workloads.all.flatMap(_.queries).distinct.sorted,
        opt("data"), work, cores)
      case None => run(Workloads(opt("workload")), opt("seed").toLong,
        opt("seconds").toDouble, opt("trace") == "1", opt("data"), work, cores)
    }
    Files.writeString(Paths.get(out), json)
    // the engine's and Spark's pool threads must not hold the JVM open
    System.exit(0)
  }

  /** A fresh session whose standing stores (`${java.io.tmpdir}/graft_*`),
    * shuffle files and warehouse all live under `dir`. */
  def session(dir: File, cores: Int): SparkSession = {
    val tmp = new File(dir, "tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "512k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(dir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      // keep Spark's own job/stage/task history small, so the live heap
      // measures the engine's retained state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKPerKey.install(spark)
    spark
  }

  private def tag(spark: SparkSession, kv: (String, String)*): Unit =
    kv.foreach { case (k, v) => spark.sparkContext.setLocalProperty(TagPrefix + k, v) }

  /** Runs one query: build = the SparkEntry call, exec = digest in place
    * or (dump) write as parquet under `outDir`. */
  def execute(spark: SparkSession, data: String, query: String, qid: String,
      pass: Int, client: Int, outDir: Option[File]): Execution =
    executeFn(spark, data, query, graft.SparkEntry.queries(query), qid, pass, client, outDir)

  def executeFn(spark: SparkSession, data: String, query: String,
      fn: (SparkSession, String) => DataFrame, qid: String, pass: Int, client: Int,
      outDir: Option[File]): Execution = {
    tag(spark, "query" -> query, "qid" -> qid, "pass" -> pass.toString, "phase" -> "build")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var digest: Option[Digest.Value] = None
    val output = outDir.map(d => new File(d, qid).getPath)
    val error = try {
      val df = fn(spark, data)
      t1 = System.nanoTime()
      tag(spark, "phase" -> "exec")
      output match {
        case Some(path) => df.write.mode("overwrite").parquet(path)
        case None => digest = Some(Digest.of(df))
      }
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally {
      if (t1 == t0) t1 = System.nanoTime()
      tag(spark, "phase" -> "none")
    }
    val t2 = System.nanoTime()
    Execution(query, qid, pass, client, startMs, System.currentTimeMillis(),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, error, digest, output)
  }

  /** One pass over the mix: `clients` callers take queries from a queue in
    * seeded order until it is empty. */
  def pass(spark: SparkSession, w: Workload, seed: Long, p: Int, data: String,
      outDir: Option[File]): Seq[Execution] = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(w.queries)
    val queue = new ConcurrentLinkedQueue[(String, Int)](order.zipWithIndex.asJava)
    val done = new ConcurrentLinkedQueue[Execution]()
    def client(c: Int): Unit = {
      var next = queue.poll()
      while (next != null) {
        done.add(execute(spark, data, next._1, s"p$p-${next._2}", p, c, outDir))
        next = queue.poll()
      }
    }
    if (w.clients == 1) client(0)
    else {
      val pool = Executors.newFixedThreadPool(w.clients)
      try {
        (0 until w.clients).map(c => pool.submit(new Runnable { def run(): Unit = client(c) }))
          .foreach(_.get())
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }
    done.asScala.toSeq.sortBy(_.qid)
  }

  /** Digest of a dumped result, read back from its parquet files. */
  def readBack(spark: SparkSession, e: Execution): Execution =
    if (e.error.nonEmpty || e.output.isEmpty) e
    else {
      tag(spark, "query" -> e.query, "qid" -> e.qid, "pass" -> "check", "phase" -> "check")
      try e.copy(digest = Some(Digest.of(spark.read.parquet(e.output.get))))
      catch { case t: Throwable => e.copy(error = Some(s"read-back: ${t.getMessage}".take(300))) }
      finally tag(spark, "phase" -> "none")
    }

  /** `readBack` of every execution, `threads` at a time. */
  def readBackAll(spark: SparkSession, execs: Seq[Execution], threads: Int): Seq[Execution] = {
    val pool = Executors.newFixedThreadPool(threads)
    try execs.map(e => pool.submit(() => readBack(spark, e))).map(_.get())
    finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def log(msg: String): Unit =
    System.err.println(f"[harness ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s] $msg")

  private def procCpu(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private def gc(): (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { case ((t, n), b) => (t + b.getCollectionTime.max(0), n + b.getCollectionCount.max(0)) }
  /** Used heap after full collections. Each collection lets Spark's
    * ContextCleaner drop the blocks of checkpointed RDDs and broadcasts
    * that became unreachable; the next one frees them. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(200)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** CPU time the hypervisor gave to other guests, all vCPUs (/proc/stat). */
  private def stealS(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .trim.split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => -1.0 }
  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, data: String,
      work: File, cores: Int): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val outDir = if (w.dump) Some(new File(work, "out")) else None
    val tracer = new JobTracer
    val execs = scala.collection.mutable.ArrayBuffer.empty[Execution]
    // Set-up: process start to the first timed pass. A fresh session on
    // fresh store/shuffle dirs, then warm passes: the first builds every
    // standing store, and by the end of the second codegen and the JIT
    // have settled (the first timed pass is within ~10% of later ones).
    val spark = session(work, cores)
    spark.sparkContext.addSparkListener(tracer)
    tracer.enabled = trace
    for (p <- 1 - WarmPasses to 0) execs ++= pass(spark, w, seed, p, data, outDir)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    log("set-up done")
    // Host speed, probed after set-up and after every timed pass (see
    // SpeedProbe); its first rounds only compile it.
    val probe = new SpeedProbe(cores)
    for (_ <- 1 to 4) probe.measure()
    val speeds = scala.collection.mutable.ArrayBuffer(probe.measure())
    // Timed passes: whole passes until `seconds` have elapsed. A traced run
    // alternates traced and untraced passes so the tracing overhead is
    // measured in the same process.
    final case class PassStat(pass: Int, traced: Boolean, wall: Double, cpu: Double,
        gcMs: Long, gcCount: Long, loadStart: Double, loadEnd: Double, steal: Double,
        startMs: Long)
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassStat]
    val timed0 = System.nanoTime()
    var p = 0
    while (p < 1 || (trace && p < 2) || System.nanoTime() - timed0 < seconds * 1e9) {
      p += 1
      tracer.enabled = trace && p % 2 == 1
      val (l0, s0, c0, (g0, n0), ms0, t0) =
        (loadavg(), stealS(), procCpu(), gc(), System.currentTimeMillis(), System.nanoTime())
      execs ++= pass(spark, w, seed, p, data, outDir)
      val (wall, cpu, (g1, n1), l1) = ((System.nanoTime() - t0) / 1e9, procCpu(), gc(), loadavg())
      passes += PassStat(p, tracer.enabled, wall, cpu - c0, g1 - g0, n1 - n0, l0, l1,
        stealS() - s0, ms0)
      speeds += probe.measure()
    }
    probe.close()
    tracer.enabled = false
    log(s"timed passes done: ${passes.size}")
    // after the timed passes, so no pass runs on a heap just shrunk by a
    // full collection
    val heapMb = liveHeapMb()
    val checked = readBackAll(spark, execs.toSeq, cores)
    log("read back")
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val spans = tracer.spans
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(spark.version),
      "java" -> Json.str(System.getProperty("java.version")))
    spark.stop()
    log("stopped")
    Json.obj(
      "workload" -> Json.str(w.name),
      "clients" -> w.clients.toString,
      "env" -> Json.obj(env: _*),
      "setup_s" -> setup.toString,
      "speed_probe_s" -> Json.arr(speeds.toSeq.map(_.toString)),
      "heap_live_mb" -> heapMb.toString,
      "passes" -> Json.arr(passes.toSeq.map(s => Json.obj(
        "pass" -> s.pass.toString, "traced" -> s.traced.toString,
        "wall_s" -> s.wall.toString, "cpu_s" -> s.cpu.toString,
        "gc_s" -> (s.gcMs / 1e3).toString, "gc_count" -> s.gcCount.toString,
        "load_start" -> s.loadStart.toString, "load_end" -> s.loadEnd.toString,
        "steal_s" -> s.steal.toString,
        "start_ms" -> s.startMs.toString))),
      "executions" -> Json.arr(checked.map(execJson)),
      "jobs" -> Json.arr(spans.map(jobJson)))
  }

  /** Runs each query twice in place and once as a parquet dump (to `work/out/<query>`),
    * for recording reference digests. */
  def record(queries: Seq[String], data: String, work: File, cores: Int): String = {
    val spark = session(new File(work, "record"), cores)
    val outDir = new File(work, "out")
    outDir.mkdirs()
    val oracle = graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
    Files.writeString(new File(outDir, "oracle_sql.json").toPath,
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
    val rows = queries.map { q =>
      val a = execute(spark, data, q, s"$q-a", 0, 0, None)
      val b = execute(spark, data, q, s"$q-b", 0, 0, None)
      val d = readBack(spark, execute(spark, data, q, q, 0, 0, Some(outDir)))
      Json.obj("query" -> Json.str(q), "runs" -> Json.arr(Seq(a, b, d).map(execJson)))
    }
    spark.stop()
    Json.obj("record" -> Json.arr(rows))
  }

  def execJson(e: Execution): String = Json.obj(
    "query" -> Json.str(e.query), "qid" -> Json.str(e.qid), "pass" -> e.pass.toString,
    "client" -> e.client.toString, "start_ms" -> e.startMs.toString,
    "end_ms" -> e.endMs.toString, "build_s" -> e.buildS.toString,
    "exec_s" -> e.execS.toString,
    "error" -> e.error.map(Json.str).getOrElse("null"),
    "digest" -> e.digest.map(d => Json.str(d.toString)).getOrElse("null"))

  def jobJson(j: JobSpan): String = Json.obj(
    "job" -> j.jobId.toString,
    "tags" -> Json.obj(j.tags.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
    "method" -> Json.str(j.method), "frames" -> Json.arr(j.frames.map(Json.str)),
    "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
    "first_launch_ms" -> (if (j.firstLaunch == Long.MaxValue) "null" else j.firstLaunch.toString),
    "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
    "failed_tasks" -> j.failedTasks.toString, "run_ms" -> j.runMs.toString,
    "shuffle_read" -> j.shuffleRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
    "input" -> j.input.toString, "result" -> j.result.toString, "output" -> j.output.toString)
}

/** Minimal JSON writer: values are passed already encoded. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
