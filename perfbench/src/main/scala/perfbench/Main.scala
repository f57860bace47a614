package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.Context

/** JVM side of the benchmark. Reads a plan written by run.py, then:
  *  1. sets up the session (Context.local), timed from the JVM's start;
  *  2. runs every query once into parquet for the untimed output check,
  *     which also warms the JIT and the session up;
  *  3. runs timed passes through the noop sink until the time is up;
  *  4. writes a JSON report for run.py to check and summarise.
  * Usage: perfbench.Main <plan file>
  */
object Main {

  final case class Plan(cores: Int, seconds: Double, minPasses: Int,
                        trace: Boolean, corpus: String,
                        checkDir: String, out: String,
                        orders: IndexedSeq[Seq[String]]) {
    def queries: Seq[String] = orders.flatten.distinct.sorted
  }

  /** Plan format: one tab-separated key and value per line. `order
    * <q1,q2,...>` repeats, one line per pass, reused cyclically; every other
    * key appears once. */
  def readPlan(path: String): Plan = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toSeq
    val one = lines.toMap
    Plan(one("cores").toInt, one("seconds").toDouble, one("min_passes").toInt,
      one("trace") == "1", one("corpus"),
      one("check_dir"), one("out"),
      lines.collect { case ("order", qs) => qs.split(",").toSeq }.toIndexedSeq)
  }

  final case class Sample(query: String, qid: Long, start: Double,
                          buildS: Double, wallS: Double, error: Option[String])

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private val nextQuery = new java.util.concurrent.atomic.AtomicLong(1)
  @volatile private var recorder: Option[Recorder] = None

  /** Builds the query through the program's registry, then hands the
    * DataFrame to `sink`. Build and sink each run under their phase tag. */
  def runQuery(spark: SparkSession, name: String, dir: String,
               sink: DataFrame => Unit): Sample = {
    val sc = spark.sparkContext
    val qid = nextQuery.getAndIncrement()
    sc.setLocalProperty(Recorder.QueryKey, qid.toString)
    val start = nowMs()
    var built = start
    val error = try {
      sc.setLocalProperty(Recorder.PhaseKey, "build")
      val df = SparkEntry.queries(name)(spark, dir)
      built = nowMs()
      sc.setLocalProperty(Recorder.PhaseKey, "execute")
      sink(df)
      None
    } catch {
      case e: Throwable =>
        if (built == start) built = nowMs()
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
    } finally {
      sc.setLocalProperty(Recorder.PhaseKey, null)
      sc.setLocalProperty(Recorder.QueryKey, null)
    }
    val end = nowMs()
    recorder.foreach { r =>
      val q = r.spanId()
      r.spans.add(Span(q, 0, qid, "query", start, end, Map("query_name" -> name)))
      for ((phase, a, b) <- Seq(("build", start, built), ("write", built, end))) {
        val id = r.spanId()
        r.phaseSpans.put((qid, phase), id)
        r.spans.add(Span(id, q, qid, phase, a, b))
      }
    }
    Sample(name, qid, start, (built - start) / 1e3, (end - start) / 1e3, error)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Counts heap allocation of all threads, the ended ones included. */
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** The old-generation pool(s): what survives young collections. */
  private val oldGenPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val bootS = (nowMs() - jvmStart) / 1e3

    // 1. set-up: the cold session, once; the JVM's start to ready is setup_s
    val sessionA = nowMs()
    val spark = Context.local(cores = plan.cores).spark
    spark.sparkContext.setLogLevel("ERROR")
    val ready = nowMs()
    val sessionS = (ready - sessionA) / 1e3

    // 2. untimed output check, which is also the warm-up: every query once,
    // into parquet. The queries run concurrently, one per core, which only
    // shortens the warm-up.
    val warmA = nowMs()
    val checkPool = Executors.newFixedThreadPool(plan.cores)
    val checks = plan.queries.map { q =>
      val out = s"${plan.checkDir}/$q"
      checkPool.submit(new Callable[(String, String, Option[String])] {
        def call() = (q, out, runQuery(spark, q, plan.corpus,
          _.write.mode("overwrite").parquet(out)).error)
      })
    }.map(_.get())
    checkPool.shutdown()
    val warmupS = (nowMs() - warmA) / 1e3

    // 3. timed passes until the time is up, each from a cleared cache; a
    // traced run alternates plain and traced passes
    val rec = if (plan.trace) Some(new Recorder) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = nowMs() + plan.seconds * 1e3
    var pass = 0
    while (pass < plan.minPasses || nowMs() < deadline) {
      val traced = plan.trace && pass % 2 == 1
      spark.catalog.clearCache()
      System.gc()
      if (traced) rec.foreach { r =>
        r.clearCacheCounters()
        spark.sparkContext.addSparkListener(r)
        spark.listenerManager.register(r)
        recorder = Some(r)
      }
      oldGenPools.foreach(_.resetPeakUsage())
      val (cpu0, gc0, alloc0, start) =
        (osBean.getProcessCpuTime, gcMs(), threads.getTotalThreadAllocatedBytes, nowMs())
      val samples = plan.orders(pass % plan.orders.size)
        .map(q => runQuery(spark, q, plan.corpus, noop))
      val end = nowMs()
      val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      val allocMb = (threads.getTotalThreadAllocatedBytes - alloc0) / 1048576.0
      val heapPeakMb = oldGenPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val layers = if (traced) rec.map { r =>
        val waitUntil = nowMs() + 5000
        while (!r.quiet && nowMs() < waitUntil) Thread.sleep(5)
        spark.listenerManager.unregister(r)
        spark.sparkContext.removeSparkListener(r)
        recorder = None
        Layers.forPass(r, samples, start, end, plan.cores, spark)
      } else None
      passes += Map(
        "traced" -> traced, "wall_s" -> (end - start) / 1e3,
        "cpu_s" -> cpuS, "gc_s" -> gcS, "heap_alloc_mb" -> allocMb,
        "heap_peak_mb" -> heapPeakMb,
        "samples" -> samples.map(s => Map("query" -> s.query, "wall_s" -> s.wallS,
          "build_s" -> s.buildS, "error" -> s.error.orNull))) ++
        layers.map("layers" -> _)
      pass += 1
    }

    val report = Map(
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> plan.cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString),
      "setup" -> Map("jvm_boot_s" -> bootS, "session_s" -> sessionS,
        "ready_s" -> (ready - jvmStart) / 1e3,
        "warmup_s" -> warmupS),
      "checks" -> checks.map { case (q, out, err) =>
        Map("query" -> q, "out" -> out, "error" -> err.orNull) },
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => plan.queries.contains(kv._1)),
      "passes" -> passes.toSeq,
      "spans" -> rec.map(_.spans.asScala.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "query" -> s.query,
        "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs))
        .getOrElse(Seq.empty),
      "peak_rss_mb" -> peakRssMb())
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(plan.out), report)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
}
