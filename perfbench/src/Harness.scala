package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.{DirIO, GpsSchema, SparkSessionFactory}
import graft.sources.GpsGenerator
import graft.streaming.{MicroBatchPipeline, ParquetSink, TableSink}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. It runs one workload in this process and
  * writes what it measured, raw, to one JSON file; `run.py` turns that into
  * metrics. The engine is driven only through its public entry points
  * (`SparkSessionFactory.local`, `GpsGenerator`, `MicroBatchPipeline.start`
  * with a `sink`, `SparkEntry.queries`/`headlines`) and observed only from
  * outside: Spark, streaming and query-execution listeners plus a timing
  * [[TableSink]] decorator, all installed only when tracing is on.
  *
  * Usage (normally through `run.py`):
  *   Harness --workload ingest_trickle|query_mix|golden --seed N
  *           --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]
  *
  * Times are epoch milliseconds (fractional) on one clock anchored at JVM
  * start, so they line up with Spark's own event timestamps.
  */
object Harness {

  /** Ingest workload shape: small files at a fixed rate (see README). */
  val RowsPerFile = 500
  val FilesPerSecond = 1
  val WarmupFiles = 20
  val DrainSeconds = 15

  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = new JsonOut
    val rec = new Recorder(trace)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSessionFactory.local(cores, "perfbench")
    val localDir = spark.sparkContext.getConf.getOption("spark.local.dir")
    try {
      rec.install(spark)
      workload match {
        case "ingest_trickle" => Trickle.run(spark, rec, out, work, seed, seconds)
        case "query_mix" => QueryMix.run(spark, rec, out, opt("data"), seed, seconds)
        case "golden" => QueryMix.dumpForOracle(spark, out, opt("data"), work)
        case other => sys.error(s"unknown workload $other")
      }
      rec.finish(spark, out)
    } finally {
      spark.stop()
      // the session factory may put Spark's scratch on tmpfs; it is this
      // process's alone, so remove it rather than leave it for the sweep
      localDir.foreach(d => DirIO.deleteRecursively(Paths.get(d)))
    }
    out.put("cores", cores)
    out.put("peak_rss_kb", vmHwmKb())
    Files.writeString(Paths.get(opt("out")), out.render)
  }

  /** Peak resident set of this process, from /proc (0 where unavailable). */
  def vmHwmKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  /** Order-independent checksum of the GPS columns (decimal sum of row
    * hashes, so it cannot overflow). */
  def gpsChecksum(df: DataFrame): String = {
    val h = xxhash64(GpsSchema.schema.fieldNames.map(col).toIndexedSeq: _*)
    String.valueOf(df.agg(sum(h.cast("decimal(38,0)"))).head().get(0))
  }
}

/** Minimal JSON object builder for the raw output. */
final class JsonOut {
  private val fields = scala.collection.mutable.LinkedHashMap[String, String]()
  def put(k: String, v: Any): Unit = synchronized { fields(k) = JsonOut.enc(v) }
  def render: String = synchronized {
    fields.map { case (k, v) => JsonOut.str(k) + ":" + v }.mkString("{", ",\n", "}")
  }
}

object JsonOut {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Everything observed from outside the engine. Streaming progress is
  * always recorded (the ingest metrics come from it); the Spark and
  * query-execution listeners, the sink decorator and spans only when
  * tracing. All records stay in memory until [[finish]]. */
final class Recorder(val trace: Boolean) {
  import Harness.now

  /** (id, parent, op, name, start, end) */
  val spans = new ConcurrentLinkedQueue[(Int, Int, String, String, Double, Double)]()
  private val nextSpan = new AtomicLong(0)
  def newSpanId(): Int = nextSpan.incrementAndGet().toInt
  def span(id: Int, parent: Int, op: String, name: String, start: Double, end: Double): Int = {
    if (trace) spans.add((id, parent, op, name, start, end))
    id
  }

  /** progress: (queryId, batchId, timestampMs, numInputRows, durationMs, stateOps) */
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** (jobId, group, batchId, start, end, stageIds) */
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Double, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[(Int, String, String, Double, Double, Int)]()
  val stages = new ConcurrentLinkedQueue[(Int, Double, Double, Int)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit = counters.computeIfAbsent(k, _ => new LongAdder).add(v)
  val sinkWrites = new ConcurrentLinkedQueue[(String, Double, Double)]()
  val opWalls = new ConcurrentLinkedQueue[(String, Double, Double)]()

  private var gcMs0 = 0L
  private var codegenNs0 = 0L
  private var cpuNs0 = 0L
  @volatile var windowStart = 0.0
  @volatile private var windowEnd = 0.0

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private val window = scala.collection.mutable.Map[String, Any]()

  /** Called once, just before the first timed operation. */
  def startWindow(): Unit = {
    gcMs0 = gcMs()
    codegenNs0 = codegenNs()
    cpuNs0 = cpuNs()
    windowStart = now()
  }

  /** Called once, right after the last timed operation. */
  def endWindow(): Unit = {
    windowEnd = now()
    window("window_end_ms") = windowEnd
    window("cpu_s") = (cpuNs() - cpuNs0) / 1e9
    window("gc_s") = (gcMs() - gcMs0) / 1e3
    window("codegen_s") = (codegenNs() - codegenNs0) / 1e9
    window("live_heap_mb") = liveHeapMb()
  }
  private def inWindow(t: Double): Boolean =
    windowStart > 0 && t >= windowStart && (windowEnd == 0 || t <= windowEnd)

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map(
          "query" -> p.id.toString,
          "batch" -> p.batchId,
          "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows" -> p.numInputRows,
          "rows_in" -> Option(p.observedMetrics.get("ingest_metrics"))
            .map(_.getAs[Long]("rows_in")).getOrElse(-1L),
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "state" -> p.stateOperators.map(s => Map(
            "commit_ms" -> s.commitTimeMs, "rows_total" -> s.numRowsTotal,
            "memory_bytes" -> s.memoryUsedBytes)).toSeq))
      }
    })
    if (!trace) return
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
        if (!inWindow(js.time.toDouble)) return
        jobStart.put(js.jobId, (prop("spark.jobGroup.id"), prop("streaming.sql.batchId"),
          js.time.toDouble, js.stageIds))
        js.stageIds.foreach(s => stageJob.put(s, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(je.jobId)).foreach { case (g, b, t0, sids) =>
          jobs.add((je.jobId, g, b, t0, je.time.toDouble, sids.size))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime if inWindow(s.toDouble))
          stages.add((i.stageId, s.toDouble, c.toDouble, stageJob.getOrDefault(i.stageId, -1)))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        val info = te.taskInfo
        if (m == null || !inWindow(info.launchTime.toDouble)) return
        add("tasks", 1)
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("task_gc_ms", m.jvmGCTime)
        add("task_deser_ms", m.executorDeserializeTime)
        // scheduler delay as Spark's UI derives it
        val total = info.finishTime - info.launchTime
        add("sched_delay_ms", math.max(0L, total - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)))
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.diskBytesSpilled)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (!inWindow(now() - durationNs / 1e6)) return
        qe.tracker.phases.values.foreach(p => add("plan_ms", p.durationMs))
        qe.executedPlan.foreach {
          case w: DataWritingCommandExec =>
            val m = w.cmd.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            add("write_rows", v("numOutputRows"))
            add("write_bytes", v("numOutputBytes"))
            add("write_files", v("numFiles"))
          case _ => ()
        }
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Timing decorator passed to the pipeline as its `sink`. */
  def timedSink(inner: TableSink): TableSink = new TableSink {
    def write(df: DataFrame, fqn: String, partitionCols: Seq[String], compression: String): Unit = {
      val batch = Option(df.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId")).getOrElse("")
      val t0 = now()
      try inner.write(df, fqn, partitionCols, compression)
      finally sinkWrites.add((batch, t0, now()))
    }
  }

  def finish(spark: SparkSession, out: JsonOut): Unit = {
    out.put("window_start_ms", windowStart)
    window.foreach { case (k, v) => out.put(k, v) }
    out.put("progress", progress.asScala.toSeq)
    out.put("trace", trace)
    if (trace) {
      // listener events are asynchronous; let the bus drain
      Thread.sleep(500)
      out.put("spans", spans.asScala.toSeq)
      out.put("jobs", jobs.asScala.toSeq)
      out.put("stages", stages.asScala.toSeq)
      out.put("counters", counters.asScala.map { case (k, v) => k -> v.sum })
      out.put("sink_writes", sinkWrites.asScala.toSeq)
    }
    out.put("ops", opWalls.asScala.toSeq)
  }

  /** Heap in use right after the most recent young collection. */
  private def liveHeapMb(): Double = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val young = beans.find(b => b.getName.contains("Young")).orElse(beans.headOption)
    young.flatMap(b => Option(b.getLastGcInfo)).map { info =>
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      info.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum / 1048576.0
    }.getOrElse(0.0)
  }
}

/** `ingest_trickle`: small GPS files arrive at a fixed rate (open loop)
  * and a `"0 seconds"` processing-time stream ingests them. */
object Trickle {
  import Harness._

  final case class Staged(files: IndexedSeq[Path], rows: IndexedSeq[Int], bytes: IndexedSeq[Long])

  def stage(spark: SparkSession, dir: Path, files: Int, seed: Long): Staged = {
    GpsGenerator.writeJsonFiles(spark, dir.toString, files.toLong * RowsPerFile, files, seed)
    val parts = DirIO.list(dir)(_.iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".json"))
      .toIndexedSeq.sortBy(_.getFileName.toString))
    require(parts.size == files, s"generator wrote ${parts.size} files, expected $files")
    Staged(parts, parts.map(p => Files.lines(p).count().toInt), parts.map(Files.size))
  }

  /** The load generator: moves file i into `inDir` at its due time
    * (`start + i / rate`), stamping mtime at arrival. Returns the thread;
    * `due`/`arrived` are filled in as it goes. */
  def generator(staged: Staged, inDir: Path, start: Double, rate: Double,
      due: Array[Double], arrived: Array[Double]): Thread = {
    val t = new Thread(() => {
      staged.files.indices.foreach { i =>
        due(i) = start + i * 1000.0 / rate
        val waitMs = due(i) - now()
        if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
        val src = staged.files(i)
        val arrival = now()
        Files.setLastModifiedTime(src, FileTime.fromMillis(arrival.toLong))
        Files.move(src, inDir.resolve(f"f$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
        arrived(i) = arrival
      }
    }, "perfbench-generator")
    t.setDaemon(true)
    t
  }

  /** Deliver `staged` into a fresh watched dir while the pipeline runs;
    * returns (due, arrived, query id, table) once every file is committed
    * or the drain window closes. */
  def stream(spark: SparkSession, rec: Recorder, work: Path, tag: String,
      staged: Staged, rate: Double, filesPerTrigger: Option[Int], sink: TableSink,
      onStart: () => Unit): (Array[Double], Array[Double], String, String) = {
    val inDir = Files.createDirectories(work.resolve(s"in_$tag"))
    val table = s"perfbench_${tag}_${ProcessHandle.current().pid()}"
    val ckpt = work.resolve(s"ckpt_$tag")
    val base = MicroBatchPipeline.Config(inputDir = inDir.toString,
      checkpointDir = ckpt.toString, table = table,
      processingInterval = Some("0 seconds"))
    val cfg = filesPerTrigger.fold(base)(n => base.copy(maxFilesPerTrigger = n))
    val q = MicroBatchPipeline.start(spark, cfg, sink)
    val qid = q.id.toString
    val n = staged.files.size
    val due = new Array[Double](n)
    val arrived = new Array[Double](n)
    try {
      val start = now() + 200
      while (now() < start - 1) Thread.sleep(1)
      onStart()
      val g = generator(staged, inDir, start, rate, due, arrived)
      g.start()
      g.join()
      val deadline = now() + DrainSeconds * 1000
      // a progress event means its batch committed; the source log says
      // which files that batch read (progress row counts include the
      // pipeline's isEmpty probe, so they cannot tell)
      def committedFiles = {
        val done = rec.progress.asScala.filter(_("query") == qid).map(_("batch").toString).toSet
        sourceLog(ckpt).collect { case (b, fs) if done(b) => fs.size }.sum
      }
      while (committedFiles < n && now() < deadline && q.exception.isEmpty) Thread.sleep(50)
      q.exception.foreach(e => throw e)
    } finally q.stop()
    (due, arrived, qid, table)
  }

  /** batch id -> names of the files that batch read, from the file
    * source's metadata log in the checkpoint (compacted logs included). */
  def sourceLog(ckpt: Path): Map[String, Seq[String]] = {
    val log = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(log)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    DirIO.list(log)(
        _.iterator.asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq)
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case entry(path, batch) => batch -> Paths.get(new java.net.URI(path)).getFileName.toString }
      .distinct.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted }
  }

  def run(spark: SparkSession, rec: Recorder, out: JsonOut, work: Path, seed: Long, seconds: Int): Unit = {
    val files = FilesPerSecond * seconds
    val main = stage(spark, work.resolve("stage_main"), files, seed)
    // the warmup replays copies of the first files into its own table
    val warmDir = Files.createDirectories(work.resolve("stage_warm"))
    val warm = Staged(main.files.take(WarmupFiles).map(p =>
      Files.copy(p, warmDir.resolve(p.getFileName))),
      main.rows.take(WarmupFiles), main.bytes.take(WarmupFiles))
    val expectedSum = gpsChecksum(GpsGenerator.batch(spark, files.toLong * RowsPerFile, seed))
    // fixed warmup on its own table and checkpoint: files land at once and
    // are read one per micro-batch, so the per-batch path runs
    // WarmupFiles times before the window
    stream(spark, rec, work, "warm", warm, 1000, Some(1), ParquetSink, () => ())
    val sink = if (rec.trace) rec.timedSink(ParquetSink) else ParquetSink
    val t0 = Harness.now()
    val (due, arrived, qid, table) =
      stream(spark, rec, work, "main", main, FilesPerSecond, None, sink, () => rec.startWindow())
    rec.endWindow()
    rec.span(rec.newSpanId(), 0, "workload", "workload.ingest_trickle", t0, Harness.now())
    // output checks, outside every timer
    spark.catalog.refreshTable(table)
    val committed = spark.table(table)
    val perFile = committed.groupBy(col("input_file")).count().collect()
      .map(r => Paths.get(new java.net.URI(r.getString(0))).getFileName.toString -> r.getLong(1)).toMap
    out.put("workload", "ingest_trickle")
    out.put("query_id", qid)
    out.put("files", main.files.indices.map(i => Map(
      "name" -> f"f$i%05d.json", "rows" -> main.rows(i), "bytes" -> main.bytes(i),
      "due_ms" -> due(i), "arrived_ms" -> arrived(i))))
    out.put("committed_per_file", perFile)
    out.put("batch_files", sourceLog(work.resolve("ckpt_main")))
    out.put("expected_checksum", expectedSum)
    out.put("committed_checksum", gpsChecksum(committed))
  }
}

/** `query_mix`: the headline queries, one client, in timed passes after
  * an untimed warm pass whose results are checked. */
object QueryMix {
  import Harness._

  private def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  private def prewarm(dir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    DirIO.walk(Paths.get(dir))(_.iterator.asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val in = Files.newInputStream(p)
      try while (in.read(buf) >= 0) () finally in.close()
    })
  }

  /** Canonical content hash of a collected result: columns by name, rows
    * sorted. Returns (rows, hash). */
  def resultHash(columns: Array[String], result: Array[Row]): (Long, String) = {
    val names = columns.zipWithIndex.sortBy(_._1)
    def cell(v: Any): String = v match {
      case null => "\\N"
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
      case s: scala.collection.Map[_, _] =>
        s.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case other => other.toString
    }
    val rows = result.map(r => names.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (names.map(_._1).mkString("\u0001") +: rows.sorted.toSeq).foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** The headline queries in passes, one client: an untimed warm pass
    * whose results are hashed for the output check, then timed passes
    * (build, then `count()`) while the window lasts, at least one. The seed
    * fixes the query order of every pass. */
  def run(spark: SparkSession, rec: Recorder, out: JsonOut, dir: String, seed: Long,
      seconds: Int): Unit = {
    val queries = SparkEntry.queries
    val sc = spark.sparkContext
    def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(SparkEntry.headlines)
    def err(e: Throwable) = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)
    prewarm(dir)
    val warm = order(0).map { n =>
      hygiene(spark)
      try {
        val df = queries(n)(spark, dir)
        val (rows, hash) = resultHash(df.columns, df.collect())
        Map("name" -> n, "rows" -> rows, "hash" -> hash)
      } catch { case scala.util.control.NonFatal(e) => Map("name" -> n, "error" -> err(e)) }
    }
    val root = rec.newSpanId()
    val timed = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 1
    var lastPass = 0.0
    while (pass == 1 || now() - rec.windowStart + lastPass <= seconds * 1000.0) {
      val passId = rec.newSpanId()
      val passStart = now()
      var wall = 0.0
      order(pass).foreach { n =>
        hygiene(spark)
        if (rec.windowStart == 0.0) rec.startWindow()
        val op = s"p$pass:$n"
        sc.setJobGroup(op, op)
        val t0 = now()
        try {
          val df = queries(n)(spark, dir)
          val t1 = now()
          val rows = df.count()
          val t2 = now()
          wall += t2 - t0
          val qid = rec.span(rec.newSpanId(), passId, op, s"query.$n", t0, t2)
          rec.span(rec.newSpanId(), qid, op, "build", t0, t1)
          rec.span(rec.newSpanId(), qid, op, "exec", t1, t2)
          rec.opWalls.add((op, t0, t2))
          timed += Map("name" -> n, "pass" -> pass, "start_ms" -> t0, "built_ms" -> t1,
            "end_ms" -> t2, "rows" -> rows)
        } catch { case scala.util.control.NonFatal(e) =>
          timed += Map("name" -> n, "pass" -> pass, "error" -> err(e))
        } finally sc.clearJobGroup()
      }
      rec.span(passId, root, s"pass$pass", "pass", passStart, now())
      lastPass = wall
      pass += 1
    }
    rec.endWindow()
    rec.span(root, 0, "workload", "workload.query_mix", rec.windowStart, now())
    out.put("workload", "query_mix")
    out.put("warm", warm)
    out.put("timed", timed.toSeq)
  }

  /** Writes each headline result and its oracle SQL for a DuckDB compare,
    * with the content hashes the benchmark checks against (`make_golden.py`). */
  def dumpForOracle(spark: SparkSession, out: JsonOut, dir: String, work: Path): Unit = {
    val queries = SparkEntry.queries
    val names = SparkEntry.headlines
    val token = graft.queries.Gps.VerifyOutToken
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    if (oracle.exists(_._2.contains(token)))
      graft.queries.VerifyInputs.writeAll(spark, dir, work.toString)
    val hashes = names.map { n =>
      hygiene(spark)
      queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(work.resolve(n).toString)
      hygiene(spark)
      val df = queries(n)(spark, dir)
      val (rows, hash) = resultHash(df.columns, df.collect())
      n -> Map("rows" -> rows, "hash" -> hash)
    }
    out.put("workload", "golden")
    out.put("headlines", names)
    out.put("hashes", hashes.toMap)
    out.put("oracle", oracle.map { case (n, sql) => n -> sql.replace(token, work.toString) }.toMap)
  }
}
