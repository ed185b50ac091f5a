package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkEntry
import graft.operators.TextOps
import graft.superstore.{Queries13, SuperstoreETL, WarehouseCache}

/** Closed-loop benchmark: one client, one JVM, one session.
  *
  * `warehouse` does one Superstore build (the ETL plus the 15 parquet
  * writes of [[WarehouseCache]]) and then rounds of the 13 [[Queries13]]
  * queries over the parquet it wrote. `star` runs rounds of a fixed set of
  * SparkEntry queries. Query order inside a round is shuffled by the seed.
  * A query op constructs the DataFrame (reading the tables it names) and
  * runs it to the `noop` sink; a build op ends when the 15th table is
  * written.
  *
  * Set-up ends with a warm-up: `warehouse` first builds the warehouse
  * (the build is an op of round 0, traced but outside the timed loop);
  * then both workloads write every query's result for the oracle check,
  * which runs each query once. The timed loop then runs warm: one whole
  * round, then the ops of further rounds (each shuffled anew) until
  * `seconds` have passed.
  * The oracle SQL goes to `work/oracles.json`; the caller evaluates it
  * after this process has exited.
  *
  * With `trace=1` a [[Ledger]] records op / table-write / job / stage spans
  * and per-op Spark counters; nothing is recorded otherwise.
  *
  * Usage: PerfBench workload=<warehouse|star> input=<csv|star dir>
  *   work=<dir> out=<ops.json> trace_out=<trace.json> seconds=<s>
  *   seed=<n> trace=<0|1> t0=<epoch seconds the run started>
  */
object PerfBench {

  /** The star workload: exchange-heavy relational queries and the
    * dedup/similarity family, where the native expressions run. Every one
    * reads and writes only its input directory and the session scratch. */
  val StarRelational: Seq[String] = Seq("q2_dedup_merge", "q4_brand_revenue",
    "q6_ship_delay", "q13_running_sales", "q29_percentiles")
  val StarText: Seq[String] = Seq("q34_ngram_jaccard", "q36_simhash_pairs",
    "q63_winnow_dup_pairs")

  final case class Op(kind: String, name: String, round: Int, start: Double,
                      end: Double, error: Option[String])

  /** A workload: its set-up, the ops (kind, name, body) of the n-th
    * round, its oracle SQL and the DataFrame whose result is checked for a
    * query. */
  final case class Workload(setup: () => Unit,
                            round: Int => Seq[(String, String, () => Unit)],
                            oracles: Map[String, String],
                            result: String => DataFrame,
                            warehouse: String = "")

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val rng = new scala.util.Random(a("seed").toLong)
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))

    // graft.Bench's session, with the scratch inside the work dir: disk
    // scratch, so shuffle/broadcast compression stays at Spark's default
    // (on) as Bench does off its RAM scratch
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = if (a.get("trace").contains("1")) Some(new Ledger(spark)) else None

    val ops = mutable.ArrayBuffer[Op]()
    var roundNo = 0
    def now(): Double = {
      val i = java.time.Instant.now()
      i.getEpochSecond + i.getNano / 1e9
    }
    def op(kind: String, name: String)(body: => Unit): Unit = {
      val id = ledger.map(_.begin(kind, name))
      val t0 = now()
      val err = try { body; None } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(e.toString)
      }
      val t1 = now()
      ledger.foreach(_.end(id.get, t0, t1))
      ops += Op(kind, name, roundNo, t0, t1, err)
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val w: Workload = workload match {
      case "warehouse" =>
        // one build in set-up, then rounds of the 13 queries over what it
        // wrote
        val whDir = s"$work/warehouse"
        val wh = new Tables(spark, whDir)
        def build(): Unit = {
          val built = ledger.fold(SuperstoreETL.build(spark, a("input")))(
            _.child("etl.build")(SuperstoreETL.build(spark, a("input"))))
          WarehouseCache.tableNames.foreach { t =>
            def write(): Unit =
              built(t).coalesce(1).write.mode("overwrite").parquet(s"$whDir/$t")
            ledger.fold(write())(_.child(s"etl.write.$t")(write()))
          }
        }
        Workload(
          setup = () => op("build", "build")(build()),
          round = _ => rng.shuffle(Queries13.queries.toSeq.sortBy(_._1)).map {
            case (q, f) => ("query", q, () => noop(f(wh)))
          },
          oracles = Queries13.duckOracles.map { case (q, sql) => q -> sql.replace("__WH__", whDir) },
          result = q => decimalsToDouble(Queries13.queries(q)(wh)),
          warehouse = whDir)

      case "star" =>
        val dir = a("input")
        Workload(
          // the result writes share one shingle index, as a pipeline would
          setup = () => TextOps.invalidateSharedIndex(),
          round = _ => rng.shuffle(StarRelational ++ StarText).map { q =>
            ("query", q, () => {
              // every text-family op pays for its own shingle index
              if (StarText.contains(q)) TextOps.invalidateSharedIndex()
              noop(SparkEntry.queries(q)(spark, dir))
            })
          },
          oracles = (StarRelational ++ StarText).map(q => q -> SparkEntry.oracleSql(q)).toMap,
          result = q => SparkEntry.queries(q)(spark, dir))
    }

    // one result per query for the oracle compare, written side by side
    // (the queries are small or driver-bound); this is the warm-up
    val checkErrors = new ConcurrentHashMap[String, String]()
    var (resultsStart, resultsEnd) = (0.0, 0.0)
    def writeResults(): Unit = {
      resultsStart = now()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try {
        w.oracles.keys.toSeq.sorted.map { q =>
          val write: Runnable = () =>
            try w.result(q).write.mode("overwrite").parquet(s"$work/results/$q")
            catch { case e: Throwable => checkErrors.put(q, e.toString) }
          pool.submit(write)
        }.foreach(_.get())
      } finally pool.shutdown()
      resultsEnd = now()
    }

    w.setup()
    writeResults()
    // the timed loop: one whole round, then ops until `seconds` have passed
    val loopStart = now()
    val (cpu0, steal0) = (processCpu(), stealJiffies())
    var pending = List.empty[(String, String, () => Unit)]
    while (roundNo == 0 || (roundNo == 1 && pending.nonEmpty) || now() < loopStart + seconds) {
      if (pending.isEmpty) { roundNo += 1; pending = w.round(roundNo).toList }
      val (kind, name, body) = pending.head
      pending = pending.tail
      op(kind, name)(body())
    }
    val loopEnd = now()
    val (cpu1, steal1) = (processCpu(), stealJiffies())
    val rssMb = peakRssMb()
    Files.writeString(Paths.get(s"$work/oracles.json"),
      Json.obj(w.oracles.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }: _*))

    val json = Json.obj(
      "workload" -> Json.str(workload),
      "cpus" -> cpus.toString,
      "setup_s" -> (loopStart - a("t0").toDouble).toString,
      "peak_rss_mb" -> rssMb.toString,
      "loop_start" -> loopStart.toString,
      "loop_end" -> loopEnd.toString,
      "loop_cpu_s" -> (cpu1 - cpu0).toString,
      "loop_steal_s" -> ((steal1 - steal0) / 100.0).toString,
      "results_start" -> resultsStart.toString,
      "results_end" -> resultsEnd.toString,
      "warehouse" -> Json.str(w.warehouse),
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
        "round" -> o.round.toString,
        "start" -> o.start.toString, "end" -> o.end.toString,
        "error" -> o.error.fold("null")(Json.str)))),
      "check_errors" -> Json.obj(checkErrors.asScala.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }: _*))
    Files.writeString(Paths.get(a("out")), json)
    ledger.foreach(l => Files.writeString(Paths.get(a("trace_out")), l.json()))
    spark.stop()
  }

  /** Warehouse money columns leave as doubles, exactly as SparkEntry's
    * `ss_*` wrappers hand them to the oracle gate. */
  private def decimalsToDouble(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  private def processCpu(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def stealJiffies(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  /** VmHWM: the process's peak resident set, in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  /** The warehouse as the query layer sees it: each lookup is a fresh
    * parquet scan, so a query op pays for reading the tables it names. */
  final class Tables(spark: SparkSession, dir: String)
      extends scala.collection.immutable.AbstractMap[String, DataFrame] {
    def get(t: String): Option[DataFrame] =
      if (WarehouseCache.tableNames.contains(t)) Some(spark.read.parquet(s"$dir/$t"))
      else None
    def iterator: Iterator[(String, DataFrame)] =
      WarehouseCache.tableNames.iterator.flatMap(t => get(t).map(t -> _))
    def removed(t: String): Map[String, DataFrame] = iterator.toMap - t
    def updated[V >: DataFrame](t: String, v: V): Map[String, V] = iterator.toMap.updated(t, v)
  }

  /** Minimal JSON writer: values are passed pre-rendered. */
  private[perfbench] object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: (String, String)*): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    def arr(vs: Iterable[String]): String = vs.mkString("[", ",\n", "]")
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  }
}

/** Traced-run instrument: spans for every op, table write, Spark job and
  * stage, and per-op Spark counters, kept in memory and rendered once.
  *
  * Jobs are attributed to ops through a local property set on the driver
  * thread, so a job always bills the op that submitted it; the listener bus
  * is drained at op boundaries before counters are read. Codegen counters
  * are JVM-wide and read as deltas around each op (local mode: executors
  * share the driver JVM).
  */
final class Ledger(spark: SparkSession) extends SparkListener {
  import PerfBench.Json

  private val OpKey = "graft.perfbench.op"
  private final class Span(val id: Int, val kind: String, val name: String,
                           val parent: Int, var start: Double = Double.NaN,
                           var end: Double = Double.NaN)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Int, mutable.LinkedHashMap[String, Double]]()
  private var current: Option[Span] = None

  // listener state (bus thread)
  private val stageOp = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()

  spark.sparkContext.addSparkListener(this)

  private def add(kind: String, name: String, parent: Int): Span = synchronized {
    val s = new Span(spans.size, kind, name, parent)
    spans += s
    s
  }
  private def bump(opId: Int, key: String, v: Double): Unit = synchronized {
    val c = counters.getOrElseUpdate(opId, mutable.LinkedHashMap())
    c(key) = c.getOrElse(key, 0.0) + v
  }

  private var codegen0 = (0L, 0L)
  private def codegenNow = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
                            CodeGenerator.compileTime)

  def begin(kind: String, name: String): Int = {
    GraftCoreBridge.drainListenerBus(spark.sparkContext)
    val s = add(kind, name, -1)
    current = Some(s)
    spark.sparkContext.setLocalProperty(OpKey, s.id.toString)
    codegen0 = codegenNow
    s.id
  }

  def end(id: Int, start: Double, end: Double): Unit = {
    val (c1, t1) = codegenNow
    spark.sparkContext.setLocalProperty(OpKey, null)
    GraftCoreBridge.drainListenerBus(spark.sparkContext)
    val s = spans(id)
    s.start = start; s.end = end
    current = None
    bump(id, "codegen_compiles", (c1 - codegen0._1).toDouble)
    bump(id, "codegen_s", (t1 - codegen0._2) / 1e9)
  }

  /** Times `body` as a child span of the current op. */
  def child[T](name: String)(body: => T): T = {
    val s = add("part", name, current.get.id)
    s.start = System.currentTimeMillis / 1e3
    val t0 = System.nanoTime
    try body finally s.end = s.start + (System.nanoTime - t0) / 1e9
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val opId = op.toInt
      val s = add("job", s"job ${e.jobId}", opId)
      s.start = e.time / 1e3
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach { st => stageOp.putIfAbsent(st, opId); stageJob.putIfAbsent(st, e.jobId) }
      bump(opId, "jobs", 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach(_.end = e.time / 1e3)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOp.get(info.stageId)).foreach { opId =>
      val job = jobSpan.get(stageJob.get(info.stageId).intValue)
      val s = add("stage", s"stage ${info.stageId}", job.id)
      s.start = info.submissionTime.getOrElse(0L) / 1e3
      s.end = info.completionTime.getOrElse(0L) / 1e3
      bump(opId, "stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { opId =>
      val m = e.taskMetrics
      val op = opId.intValue
      bump(op, "tasks", 1)
      if (m != null) {
        bump(op, "task_run_s", m.executorRunTime / 1e3)
        bump(op, "task_cpu_s", m.executorCpuTime / 1e9)
        bump(op, "gc_s", m.jvmGCTime / 1e3)
        bump(op, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        bump(op, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        bump(op, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        bump(op, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        bump(op, "output_mb", m.outputMetrics.bytesWritten / 1048576.0)
      }
    }

  def json(): String = synchronized {
    GraftCoreBridge.drainListenerBus(spark.sparkContext)
    Json.obj(
      "spans" -> Json.arr(spans.map(s => Json.obj(
        "id" -> s.id.toString, "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start" -> Json.num(s.start),
        "end" -> Json.num(s.end)))),
      "counters" -> Json.obj(counters.toSeq.sortBy(_._1).map { case (id, c) =>
        id.toString -> Json.obj(c.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
      }: _*))
  }
}
