package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One fresh-JVM benchmark run over a list of catalog entries.
  *
  * Usage: Harness --data <sf dir> --out <run dir> --order <names file>
  *                --cpus <n> --trace <0|1> --result <json file>
  *                [--index <0|1>] [--limit <seconds>] [--primer <names>]
  *        Harness --list <file>   (writes the catalog's names and exits)
  *
  * Builds the same session as graft.Bench, runs Bench's warmup and (with
  * --index 1) the hybrid index build, then runs each named entry once, in
  * file order:
  * the catalog call (construct) and one parquet write of the result into
  * <run dir>/out/<name> (action). Everything is measured from outside
  * the engine. With --trace 1 it also records Spark jobs, stages, task
  * metrics, planning phases, codegen counters, GC, heap peaks and the
  * graft-* store directories under java.io.tmpdir; the raw spans go to
  * the result file and are aggregated by perfbench/ledger.py.
  */
object Harness {

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * wall clock as Spark's listener timestamps. */
  val OracleGroup = "perfbench/oracle"
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val trace = opts.get("trace").contains("1")
    if (opts.contains("list")) {
      // catalog listing, one name per line, no session
      Files.writeString(Paths.get(opts("list")), graft.SparkEntry.queries
        .keys.toSeq.sorted.map(_ + "\n").mkString)
      return
    }
    val (sfDir, runDir, cpus) = (opts("data"), opts("out"), opts("cpus"))
    val order = Files.readAllLines(Paths.get(opts("order"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq

    val tSession0 = nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tSession1 = nowMs
    warmup(spark, sfDir, s"$runDir/warmup")
    // untimed primer entries: the JVM's one-time class loading and JIT of
    // the catalog's common paths, which a shuffled order would otherwise
    // charge to whichever timed entry happened to run first
    opts.get("primer").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      .foreach { p =>
        graft.SparkEntry.queries(p)(spark, sfDir).write.mode("overwrite")
          .parquet(s"$runDir/warmup/$p")
      }
    val tWarm1 = nowMs
    // the hybrid entries' shared persisted indexes; built only for runs
    // that hold an entry reading them
    if (opts.get("index").contains("1"))
      graft.engine.ExtensionQueries.warmHybridIndexes(spark, sfDir)
    val tIndex1 = nowMs

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val catalog = graft.SparkEntry.queries
    val sc = spark.sparkContext
    // entries not started within --limit seconds of the JVM's session
    // start are reported as not run
    val limitMs = opts.get("limit").map(_.toDouble * 1e3)
      .getOrElse(Double.PositiveInfinity)
    def runEntry(name: String): Json.Raw = {
      val probe = tracer.map(_.beginEntry())
      var error: Option[String] = None
      sc.setJobGroup(s"perfbench/$name/construct", s"$name construct",
        interruptOnCancel = false)
      val t0 = nowMs
      var t1 = Double.NaN
      try {
        val df = catalog(name)(spark, sfDir)
        t1 = nowMs
        probe.foreach(_.mark())
        sc.setJobGroup(s"perfbench/$name/action", s"$name action",
          interruptOnCancel = false)
        df.write.mode("overwrite").parquet(s"$runDir/out/$name")
      } catch {
        case e: Throwable =>
          error = Some(String.valueOf(e.getMessage).linesIterator
            .nextOption().getOrElse(e.getClass.getName).take(300))
      } finally sc.clearJobGroup()
      val t2 = nowMs
      if (t1.isNaN) t1 = t2
      Json.obj(Seq("name" -> name, "ok" -> error.isEmpty, "error" -> error,
        "t0_ms" -> t0, "t1_ms" -> t1, "t2_ms" -> t2) ++
        probe.map(p => "probe" -> p.end()).toSeq: _*)
    }
    val entries = order.map { name =>
      if (nowMs - tSession0 > limitMs)
        Json.obj("name" -> name, "ok" -> false,
          "error" -> "not run: time limit reached", "t0_ms" -> nowMs,
          "t1_ms" -> nowMs, "t2_ms" -> nowMs)
      else runEntry(name)
    }
    // lazy oracle twins resolve by running jobs; group them apart so the
    // ledger does not count them as work outside every entry
    sc.setJobGroup(OracleGroup, "oracle SQL", interruptOnCancel = false)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      order.contains(k) }
    spark.stop()
    val result = Json.obj(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> Json.obj("session_s" -> (tSession1 - tSession0) / 1e3,
        "warmup_s" -> (tWarm1 - tSession1) / 1e3,
        "index_build_s" -> (tIndex1 - tWarm1) / 1e3),
      "entries" -> Json.Raw(entries.mkString("[", ",", "]")),
      "oracle" -> oracle,
      "trace" -> tracer.map(_.dump()))
    Files.writeString(Paths.get(opts("result")), result.s)
  }

  /** graft.Bench's warmup, step for step, minus the hybrid index build
    * (timed on its own above): one shuffle aggregate, a parquet read, a
    * broadcast join with a window, and a one-iteration KMeans fit. One
    * step is added: a micro parquet write, because the timed action here
    * writes parquet where Bench's count() never did. Without it the first
    * timed entry absorbs the writer's class loading and codec set-up, and
    * which entry that is changes with the seed. */
  private def warmup(spark: SparkSession, sfDir: String,
      writeDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val micro = spark.range(64L).select(col("id"), (col("id") % 8).as("k"))
    micro.join(broadcast(micro.select(col("k").as("k2")).distinct()),
        col("k") === col("k2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy("id")))
      .groupBy("k").agg(sum("rn")).count()
    val pts = spark.range(32L).select(
      org.apache.spark.ml.functions.array_to_vector(
        array(rand(7L), rand(11L))).as("__vec"))
    new org.apache.spark.ml.clustering.KMeans()
      .setFeaturesCol("__vec").setK(2).setSeed(1L).setMaxIter(1).fit(pts)
    micro.write.mode("overwrite").parquet(s"$writeDir/micro")
  }
}

/** Listener-side recorder for a traced run. Spark delivers listener
  * events on its bus thread; every collection here is either concurrent
  * or read only after SparkContext.stop() has drained the bus. */
final class Tracer(spark: SparkSession) {
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Double]]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val queries = new ConcurrentLinkedQueue[String]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[
    Int, java.lang.Long]()
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))

  // task counters summed per stage attempt: run s, cpu s, gc s, shuffle
  // read, shuffle write, spill, input bytes, tasks
  private object TaskListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val v = Array(m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.jvmGCTime / 1e3, m.shuffleReadMetrics.totalBytesRead.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          m.inputMetrics.bytesRead.toDouble, 1.0)
        stageTasks.merge(s"${e.stageId}.${e.stageAttemptId}", v,
          (a, b) => a.zip(b).map { case (x, y) => x + y })
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(Json.obj("id" -> s"${s.stageId}.${s.attemptNumber()}",
        "submit_ms" -> s.submissionTime.map(_.toDouble),
        "end_ms" -> s.completionTime.map(_.toDouble),
        "tasks" -> s.numTasks).s)
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(f, qe)
    private def record(f: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq(QueryPlanningTracker.ANALYSIS,
        QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(p => ph.get(p).map(s => p -> Json.obj(
          "start_ms" -> s.startTimeMs.toDouble,
          "end_ms" -> s.endTimeMs.toDouble)))
      queries.add(Json.obj(Seq("func" -> f) ++ parts: _*).s)
    }
  }

  spark.sparkContext.addSparkListener(TaskListener)
  spark.listenerManager.register(PlanListener)

  private def codegen: Seq[Double] = Seq(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    CodeGenerator.compileTime / 1e6, WholeStageCodegenExec.codeGenTime / 1e6)

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** path -> (size, mtime) of every file under a graft-* temp dir. */
  private def storeFiles: Map[String, (Long, Long)] =
    Option(tmpRoot.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      .flatMap { d =>
        val w = Files.walk(d.toPath)
        try w.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> (Files.size(p),
            Files.getLastModifiedTime(p).toMillis)).toList
        catch { case _: java.io.IOException => Nil }
        finally w.close()
      }.toMap

  final class EntryProbe {
    private val stores0 = storeFiles
    private val gc0 = gcMs
    heapPools.foreach(_.resetPeakUsage())
    private val cg0 = codegen
    private var cg1 = cg0
    def mark(): Unit = cg1 = codegen
    def end(): Json.Raw = {
      val cg2 = codegen
      val gc = gcMs - gc0
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val written = storeFiles.filter { case (p, v) =>
        !stores0.get(p).contains(v) }
      def delta(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => y - x }
      Json.obj(
        "codegen_construct" -> delta(cg0, cg1),
        "codegen_action" -> delta(cg1, cg2),
        "gc_s" -> gc / 1e3, "heap_peak_mb" -> heap,
        "stores_bytes" -> written.values.map(_._1).sum,
        "stores_files" -> written.size)
    }
  }

  def beginEntry(): EntryProbe = new EntryProbe

  /** Raw spans; call only after SparkContext.stop(). */
  def dump(): Json.Raw = {
    val js = jobStarts.asScala.toSeq.map { e =>
      Json.obj("id" -> e.jobId,
        "group" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
        "start_ms" -> e.time.toDouble,
        "end_ms" -> Option(jobEnds.get(e.jobId)).map(_.toDouble),
        "stages" -> e.stageIds.map(s => s.toString))
    }
    val st = stages.asScala.toSeq
    val tasks = stageTasks.asScala.toSeq.map { case (k, v) =>
      Json.obj("stage" -> k, "run_s" -> v(0), "cpu_s" -> v(1),
        "gc_s" -> v(2), "shuffle_read_bytes" -> v(3),
        "shuffle_write_bytes" -> v(4), "spill_bytes" -> v(5),
        "input_bytes" -> v(6), "tasks" -> v(7))
    }
    Json.obj(
      "jobs" -> Json.Raw(js.mkString("[", ",", "]")),
      "stages" -> Json.Raw(st.mkString("[", ",", "]")),
      "stage_tasks" -> Json.Raw(tasks.mkString("[", ",", "]")),
      "queries" -> Json.Raw(queries.asScala.mkString("[", ",", "]")))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  /** Already-encoded JSON, embedded as is. */
  final case class Raw(s: String) { override def toString: String = s }
  def obj(fields: (String, Any)*): Raw = Raw(
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
