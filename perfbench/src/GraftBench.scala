package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import java.nio.ByteBuffer
import java.util.function.{Consumer, IntFunction}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileRange, FileStatus,
  FileSystem, Path, StreamCapabilities}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkEntry, Tables}
import graft.functions.GraftHash
import graft.sources.GraftFileSystem

/** Outside-in benchmark harness for graft.
  *
  * It reaches the engine only through public entry points:
  * `SparkEntry.queries` (one call = one operation), `GraftFileSystem`
  * and its `mount`, `Tables`, the `GraftHash` kernels, and Spark's own
  * listeners. It writes raw samples as one JSON file; `perfbench/run.py`
  * reduces them to the reported metrics.
  *
  * Usage: graftbench.Main run|bless key=value...
  *   keys: ops (comma list), data (fixture dir), out (JSON file), cores;
  *         run mode: expected (expected.json), workload, seed, seconds,
  *         trace (0|1), warm (warm-up passes); bless mode: parquet (output dir)
  */
object Main {
  val Volume = "bench"
  val DataDir = s"graft://$Volume"

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = argv.tail.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val ops = a("ops").split(',').toSeq
    val cores = a("cores").toInt
    val out = mode match {
      case "run" => new Runner(ops, a("data"), cores, a("seed").toLong,
        a("seconds").toDouble, a("trace") == "1", a("warm").toInt,
        Expected.load(a("expected"), a("workload"))).run()
      case "bless" => bless(ops, a("data"), cores, a("parquet"))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats).getBytes("UTF-8"))
  }

  def session(cores: Int, dataRoot: String, counting: Boolean): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.graft.streaming.shufflePartitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.sparkContext.hadoopConfiguration
    GraftFileSystem.mount(conf, Volume, dataRoot)
    if (counting) conf.set("fs.graft.impl", classOf[CountingGraftFileSystem].getName)
    spark
  }

  /** Drop storage blocks a finished operation leaves behind
    * (localCheckpoint blocks) so they do not evict the next one's. */
  def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** (rows, order-independent fingerprint) of a DataFrame's output: one
    * Spark execution of its (already planned) physical plan. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val conv = CatalystTypeConverters.createToScalaConverter(schema)
        var n = 0L; var h = 0L
        it.foreach { r =>
          h += Canon.rowHash(conv(r).asInstanceOf[Row]); n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Run each operation once, write its output as parquet for the
    * DuckDB oracle comparison, and fingerprint it twice (two separate
    * executions) so a nondeterministic operation shows. */
  def bless(ops: Seq[String], dataRoot: String, cores: Int, parquetDir: String): Map[String, Any] = {
    val spark = session(cores, dataRoot, counting = false)
    val res = ops.map { op =>
      op -> (try {
        val prints = (1 to 2).map { _ =>
          releaseBlocks(spark)
          fingerprint(SparkEntry.queries(op)(spark, DataDir))
        }
        SparkEntry.queries(op)(spark, DataDir).write.mode("overwrite")
          .parquet(s"$parquetDir/$op")
        Map("rows" -> prints.head._1, "fp" -> Canon.hex(prints.head._2),
          "deterministic" -> (prints.distinct.size == 1))
      } catch { case NonFatal(e) => Map("error" -> Canon.err(e)) })
    }.toMap
    spark.stop()
    Map("ops" -> res, "oracle_sql" -> ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap)
  }
}

/** Output canonicalization (FIXTURES.md rules: columns in name order,
  * doubles rounded to 6 dp, µs timestamps) and its 64-bit row hash. */
object Canon {
  private val ctx = new java.math.MathContext(12)

  def value(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => "dec:" + b.toPlainString
    case b: scala.math.BigDecimal => "dec:" + b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => "ts:" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000)
    case t: java.time.Instant => "ts:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val b = new java.math.BigDecimal(d)
      // 6 dp, but never more than 12 significant digits: the digits
      // beyond that depend on the order a distributed sum was added in
      val r = if (math.abs(d) >= 1e6) b.round(ctx) else b.setScale(6, java.math.RoundingMode.HALF_EVEN)
      r.stripTrailingZeros.toPlainString
    }

  def row(r: Row): String =
    if (r.schema == null) r.toSeq.map(value).mkString("(", ",", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + ":" + value(r.get(i)) }.mkString("(", ",", ")")

  def rowHash(r: Row): Long = {
    val b = row(r).getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def hex(h: Long): String = f"$h%016x"

  def err(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).linesIterator.take(1).mkString.take(300)
}

object Expected {
  /** op -> (rows, fingerprint) for one workload of expected.json, or the
    * reason the DuckDB oracle check left the op without one. */
  def load(path: String, workload: String): Map[String, Either[String, (Long, String)]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    parse(txt) \ workload match {
      case JObject(fields) => fields.map { case (op, v) =>
        op -> ((v \ "rows", v \ "fp", v \ "oracle") match {
          case (JInt(n), JString(f), _) => Right((n.toLong, f))
          case (_, _, JString(why)) => Left(why)
          case _ => Left("no expected value")
        })
      }.toMap
      case _ => Map.empty
    }
  }
}

/** `graft://` with per-call and byte counters: the benchmark counts the
  * connector's operations and bytes itself, because Hadoop's FileSystem
  * statistics for the scheme stay 0 (it delegates to an inner local
  * filesystem), and the vectored reads of the parquet scans bypass the
  * statistics of that inner filesystem too. */
class CountingGraftFileSystem extends GraftFileSystem {
  import CountingGraftFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(Open)
    new FSDataInputStream(new CountingInputStream(super.open(f, bufferSize)))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet(Create)
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(out, null) {
      private var closed = false
      override def close(): Unit = {
        if (!closed) { closed = true; calls.addAndGet(WriteBytes, getPos) }
        super.close()
      }
    }
  }
  override def rename(src: Path, dst: Path): Boolean = { calls.incrementAndGet(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { calls.incrementAndGet(Delete); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { calls.incrementAndGet(List); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { calls.incrementAndGet(Stat); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { calls.incrementAndGet(Mkdirs); super.mkdirs(f, permission) }
}

object CountingGraftFileSystem {
  val Names = Seq("opens", "creates", "renames", "deletes", "lists", "stats", "mkdirs", "read_bytes", "write_bytes")
  final val Open = 0; final val Create = 1; final val Rename = 2; final val Delete = 3
  final val List = 4; final val Stat = 5; final val Mkdirs = 6; final val ReadBytes = 7; final val WriteBytes = 8
  val calls = new AtomicLongArray(Names.size)
  def snapshot(): Array[Long] = Array.tabulate(Names.size)(calls.get)
}

/** A `graft://` input stream that counts the bytes read through it.
  * It forwards the capabilities of the stream it wraps and implements
  * no read interface that stream lacks, so readers take the same path
  * as on an uncounted stream. */
final class CountingInputStream(in: FSDataInputStream) extends FSInputStream with StreamCapabilities {
  import CountingGraftFileSystem.{calls, ReadBytes}
  private def count(n: Int): Int = { if (n > 0) calls.addAndGet(ReadBytes, n); n }
  private def countRanges(ranges: java.util.List[_ <: FileRange]): Unit =
    ranges.forEach(r => calls.addAndGet(ReadBytes, r.getLength.toLong))
  override def read(): Int = { val b = in.read(); if (b >= 0) count(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = count(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); count(len)
  }
  override def readVectored(ranges: java.util.List[_ <: FileRange], allocate: IntFunction[ByteBuffer]): Unit = {
    countRanges(ranges); in.readVectored(ranges, allocate)
  }
  override def readVectored(ranges: java.util.List[_ <: FileRange], allocate: IntFunction[ByteBuffer],
      release: Consumer[ByteBuffer]): Unit = {
    countRanges(ranges); in.readVectored(ranges, allocate, release)
  }
  override def minSeekForVectorReads(): Int = in.minSeekForVectorReads()
  override def maxReadSizeForVectorReads(): Int = in.maxReadSizeForVectorReads()
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
  override def hasCapability(capability: String): Boolean = in.hasCapability(capability)
}

/** Per-operation Spark profile, keyed by the `perfbench.op` local
  * property the benchmark sets around each operation. Streaming
  * micro-batch threads inherit it from the thread that started them. */
class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, gcMs, cpuNs, shuffleW, shuffleR, spill, input = 0L
    var skew = 0.0
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val byOp = mutable.HashMap.empty[String, Acc]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private def acc(tag: String) = byOp.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("-")
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
    acc(tag).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, t0) => acc(tag).spans += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val a = acc(stageTag.getOrElse(id, "-"))
    a.stages += 1
    stageTaskMs.remove(id).filter(_.size >= 2).foreach { ds =>
      val s = ds.sorted
      val med = math.max(s(s.size / 2), 1L)
      a.skew = math.max(a.skew, s.last.toDouble / med)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, "-"))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }
}

/** Micro-batch progress of every streaming query, attributed later to
  * the operation whose wall interval holds the batch's start time. */
class BatchListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += Map(
      "t_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
      "wal_commit_ms" -> d("walCommit"), "commit_offsets_ms" -> d("commitOffsets"),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}

class Runner(ops: Seq[String], dataRoot: String, cores: Int, seed: Long, seconds: Double,
    trace: Boolean, warmPasses: Int, expected: Map[String, Either[String, (Long, String)]]) {
  private val MinPasses = 3
  private val t0Process = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var spark: SparkSession = _
  private val opListener = new OpListener
  private val batchListener = new BatchListener

  private val heap = java.lang.management.ManagementFactory.getMemoryMXBean

  /** The set-up before warm-up: session, `graft://` mount, catalog
    * footer reads. Returns (seconds, footer-read ms). */
  private def setUp(): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = Main.session(cores, dataRoot, counting = trace)
    val t1 = System.nanoTime()
    Tables.all.foreach(Tables(spark, Main.DataDir, _))
    val t2 = System.nanoTime()
    ((t2 - t0) / 1e9, (t2 - t1) / 1e6)
  }

  private def runOp(op: String, tag: String, build: () => DataFrame): Map[String, Any] = {
    Main.releaseBlocks(spark)
    System.gc()
    // heap still live after the previous operation and a full GC
    val liveMb = heap.getHeapMemoryUsage.getUsed / 1048576.0
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    sc.setLocalProperty("perfbench.op", tag)
    val fs0 = CountingGraftFileSystem.snapshot()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tb, tp = t0
    val res: Map[String, Any] =
      try {
        val df = build()
        tb = System.nanoTime()
        df.queryExecution.executedPlan
        tp = System.nanoTime()
        val (rows, fp) = Main.fingerprint(df)
        val te = System.nanoTime()
        val check = expected.get(op) match {
          case None => Some("no expected value")
          case Some(Left(why)) => Some(s"expected.json: $why")
          case Some(Right((r, f))) =>
            if (r != rows) Some(s"rows $rows, expected $r")
            else if (f != Canon.hex(fp)) Some(s"fingerprint ${Canon.hex(fp)}, expected $f")
            else None
        }
        check match {
          case Some(why) => Map("ok" -> false, "error" -> s"mismatch: $why")
          case None => Map("ok" -> true, "s" -> (te - t0) / 1e9, "build_s" -> (tb - t0) / 1e9,
            "plan_s" -> (tp - tb) / 1e9, "exec_s" -> (te - tp) / 1e9, "rows" -> rows)
        }
      } catch { case NonFatal(e) => Map("ok" -> false, "error" -> Canon.err(e)) }
    val w1 = System.currentTimeMillis()
    sc.clearJobGroup()
    sc.setLocalProperty("perfbench.op", null)
    val fs1 = CountingGraftFileSystem.snapshot()
    res ++ Map("op" -> op, "tag" -> tag, "w0_ms" -> w0, "w1_ms" -> w1, "live_heap_mb" -> liveMb,
      "fs_calls" -> CountingGraftFileSystem.Names.zipWithIndex.map { case (n, i) => n -> (fs1(i) - fs0(i)) }.toMap)
  }

  private def pass(label: String, order: Seq[String]): Seq[Map[String, Any]] =
    order.map(op => runOp(op, s"$label:$op", () => SparkEntry.queries(op)(spark, Main.DataDir)))

  def run(): Map[String, Any] = {
    val (setupS, tablesLoadMs) = setUp()
    spark.streams.addListener(batchListener)
    if (trace) spark.sparkContext.addSparkListener(opListener)
    val rng = new scala.util.Random(seed)
    val warm = (1 to warmPasses).flatMap(i => pass(s"warm$i", rng.shuffle(ops)))
    val firstOpS = (System.currentTimeMillis() - t0Process) / 1e3
    val passes = mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val tStart = System.nanoTime()
    // at least MinPasses; then only a pass the previous one says fits
    var last = 0.0
    while (passes.size < MinPasses || (System.nanoTime() - tStart) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      passes += pass(s"p${passes.size}", rng.shuffle(ops))
      last = (System.nanoTime() - t) / 1e9
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9
    val selfCheck = selfChecks(warm)
    val micro = if (trace) Map("sources" -> Micro.sources(), "functions" -> Micro.functions()) else Map.empty
    spark.stop() // drains the listener bus
    Map("session_s" -> setupS, "tables_load_ms" -> tablesLoadMs,
      "first_op_s" -> firstOpS, "measured_s" -> measuredS, "warm" -> warm, "passes" -> passes,
      "self_check" -> selfCheck, "batches" -> batchListener.batches.toSeq,
      "spark" -> opListener.byOp.map { case (tag, a) => tag -> Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
        "task_run_s" -> a.runMs / 1e3, "executor_cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "shuffle_write_bytes" -> a.shuffleW, "shuffle_read_bytes" -> a.shuffleR,
        "spill_bytes" -> a.spill, "input_bytes" -> a.input, "task_skew" -> a.skew,
        "spans" -> a.spans.map { case (s, e) => Seq(s, e) }.toSeq) }.toMap,
      "micro" -> micro, "rss_peak_mb" -> Micro.rssPeakMb())
  }

  /** A deliberately broken operation must be reported as failed and
    * record no seconds: one that loses its output rows, one that throws. */
  private def selfChecks(warm: Seq[Map[String, Any]]): Map[String, Any] = {
    val ok = warm.filter(r => r("ok") == true && r("rows") != 0L)
    val op = if (ok.isEmpty) ops.head
      else ok.minBy(r => r("s").asInstanceOf[Double]).apply("op").toString
    val noRows = runOp(op, s"selfcheck:$op", () =>
      SparkEntry.queries(op)(spark, Main.DataDir).where(lit(false)))
    val throws = runOp(op, s"selfcheck:$op", () => throw new IllegalStateException("deliberate failure"))
    val caught = Seq(noRows, throws).forall(r => r("ok") == false && !r.contains("s"))
    Map("op" -> op, "passed" -> caught, "errors" -> Seq(noRows, throws).map(_.getOrElse("error", "")))
  }
}

/** Connector and kernel microbenchmarks (traced runs only). */
object Micro {
  private def medianNs(reps: Int)(f: => Unit): Double = {
    val xs = (1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble }.sorted
    xs(xs.size / 2)
  }

  /** Median µs per call of each FileSystem operation on `graft://`
    * and on the `file://` store under it. */
  def sources(): Map[String, Any] = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), "micro_fs")
    root.mkdirs()
    val conf = new Configuration()
    GraftFileSystem.mount(conf, "micro", root.getAbsolutePath)
    val payload = new Array[Byte](4096)
    val n = 200
    def one(scheme: String, uri: java.net.URI, base: String): Map[String, Double] = {
      val fs = FileSystem.newInstance(uri, conf)
      val dir = new Path(s"$base/$scheme")
      fs.delete(dir, true); fs.mkdirs(dir)
      def p(i: Int, s: String = "f") = new Path(dir, s"$s$i")
      var i = 0
      def each(f: Int => Unit): Double = { i = 0; medianNs(n) { f(i); i += 1 } / 1e3 }
      val init = medianNs(20)(FileSystem.newInstance(uri, conf).close()) / 1e3
      val create = each { k => val o = fs.create(p(k), true); o.write(payload); o.close() }
      val buf = new Array[Byte](8192)
      val read = each { k => val in = fs.open(p(k)); while (in.read(buf) > 0) {}; in.close() }
      val stat = each(k => fs.getFileStatus(p(k)))
      val list = medianNs(5)(fs.listStatus(dir)) / 1e3
      val rename = each(k => fs.rename(p(k), p(k, "g")))
      val delete = each(k => fs.delete(p(k, "g"), false))
      fs.delete(dir, true); fs.close()
      Map("fs_init_us" -> init, "create_us" -> create, "open_read_us" -> read, "stat_us" -> stat,
        "list_us" -> list, "rename_us" -> rename, "delete_us" -> delete)
    }
    // file:// first so the graft side pays no first-touch cost for it
    val file = one("file", java.net.URI.create("file:///"), root.toURI.getPath)
    val graft = one("graft", java.net.URI.create("graft://micro/"), "graft://micro")
    Map("graft" -> graft, "file" -> file,
      "overhead_ratio" -> graft.filter(_._1 != "fs_init_us").values.sum / file.filter(_._1 != "fs_init_us").values.sum)
  }

  /** ns per pair / doc / vector / value of the GraftHash kernels, on
    * fixed synthetic inputs shaped like the fixture (d=64 vectors,
    * ~55-word documents over a 30-word vocabulary). */
  def functions(): Map[String, Any] = {
    val rnd = new java.util.Random(42)
    val vecs: Array[ArrayData] = Array.fill(1024)(ArrayData.toArrayData(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val words = "spark window merge table column vector stream value data small join filter big group hash customer sort order slow line part fast row the agg key query a scan batch".split(' ')
    val texts = Array.fill(256)((1 to 10 + rnd.nextInt(91)).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    val toks: Array[ArrayData] = texts.map(t => new GenericArrayData(t.split(' ').map(UTF8String.fromString(_): Any)))
    val utf = texts.map(UTF8String.fromString)
    val doubles = Array.fill(1 << 16)(rnd.nextGaussian())
    var sink = 0.0
    def per(units: Int)(f: => Unit): Double = {
      medianNs(5)(f) // lets the JIT compile this kernel's loop first
      medianNs(9)(f) / units
    }
    def pairs(k: (ArrayData, ArrayData) => Double): Double = per(vecs.length * 16) {
      var i = 0
      while (i < vecs.length) { var j = 1; while (j <= 16) { sink += k(vecs(i), vecs((i + j) & 1023)); j += 1 }; i += 1 }
    }
    val res = Map(
      "dot_ns_per_pair" -> pairs(GraftHash.dot(_, _)),
      "cosine_ns_per_pair" -> pairs(GraftHash.cosine(_, _)),
      "l2_ns_per_pair" -> pairs(GraftHash.l2(_, _)),
      "minhash_ns_per_doc" -> per(toks.length)(toks.foreach(t => sink += GraftHash.minhashSig(t, 128).getLong(0))),
      "simhash_ns_per_doc" -> per(toks.length)(toks.foreach(t => sink += GraftHash.simhash64(t))),
      "fingerprint_ns_per_doc" -> per(utf.length)(utf.foreach(t => sink += GraftHash.fingerprint(t, 7, 10).numElements())),
      "hyperplane_ns_per_vec" -> per(vecs.length)(vecs.foreach(v => sink += GraftHash.hyperplaneBucket(v, 16))),
      "sortbits_ns_per_value" -> per(doubles.length)(doubles.foreach(d => sink += GraftHash.doubleSortBits(d))))
    if (sink == 42.4242) println(sink) // keeps the kernels' results live
    res
  }

  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
