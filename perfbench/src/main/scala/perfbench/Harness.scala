package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One op of a workload: `run` is the timed body, `check` validates its
  * result outside the timed window (None = correct).
  */
final case class Op(name: String, run: () => Any,
    check: Any => Option[String] = _ => None)

/** A workload: fixtures staged once per run, a seeded op list (one pass),
  * and the untimed warm-up that runs before the first timed op.
  */
trait Workload {
  def setup(): Unit
  def pass(): IndexedSeq[Op]
  /** Runs untimed ops until JIT warm-up settles; returns their seconds. */
  def warmup(time: Op => Double): Seq[Double]
  /** Registry entries whose outputs were written for the DuckDB oracle. */
  def oracleEntries: Seq[String]
}

/** The benchmark's JVM side. One invocation builds a Spark session with
  * the conf `graft.Bench` uses (local[nproc], shuffle partitions = nproc),
  * sets the workload up, warms it up, times whole passes over its op list
  * for about `--seconds`, and writes every raw sample to `--out` as JSON.
  * `perfbench/run.py` turns that file into the reported metrics.
  *
  * With `--trace 1` it runs one pass in which each op runs once with the
  * listeners of Trace.scala attached and once without (the overhead
  * baseline); the counting file system is installed for the whole traced
  * run by its classpath (perfbench/trace-conf/core-site.xml).
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    // the sf0.1 tables sit beside the program's own default input
    val data = a.getOrElse("data",
      Paths.get(graft.CliConfig().sfDir).resolveSibling("sf0.1").toString)
    val work = Paths.get(a("work"))
    val nproc = a("nproc").toInt

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (a.contains("build-fixture")) {
      CiPr.buildFixture(spark, data, nproc, Paths.get(a("build-fixture")))
      spark.stop()
      System.exit(0)
    }
    val checkDir = work.resolve("check")
    Files.createDirectories(checkDir)
    val whRoot = work.resolve("warehouse").toString
    val rng = new scala.util.Random(seed)
    val w: Workload = workload match {
      case "ci_pr" => new CiPr(spark, data, whRoot, nproc, rng, Paths.get(a("fixture")))
      case "registry" => new Registry(spark, data, Registry.entries, rng, checkDir)
      case other => sys.error(s"unknown workload $other")
    }

    val roots = Seq(Paths.get(whRoot), graft.core.Scratch.root)
    def diskBytes = roots.map(Timing.bytesUnder(_, _ => true)).sum
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val h = new Timing(spark, roots)
    Timing.watchHeap()
    val sessionS = sinceStart
    w.setup()
    val fixtureS = sinceStart - sessionS
    val warm = w.warmup(op => h.untimed(op))
    val setupS = sinceStart

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    var passes = 0
    var disk = -1L
    val cpu0 = h.cpuNs
    val t0 = System.nanoTime()
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (traced) {
      // one pass in which every op runs twice, with the listeners attached
      // and without, alternating which goes first so that warm-up drift
      // cancels out of the tracing overhead
      val tracer = new Tracer(spark)
      w.pass().zipWithIndex.foreach { case (op, i) =>
        (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { on =>
          if (on) tracer.attach()
          Timing.tracing = on
          val (rec, t) = h.timed(op, if (on) Some(tracer.sched) else None)
          if (on) tracer.detach()
          records += rec ++ Map("pass" -> 0, "traced" -> on)
          t.foreach(traces += _)
        }
      }
      passes = 1
      disk = diskBytes
    } else
      while (passes == 0 || elapsed + lastPass <= seconds) {
        val p0 = System.nanoTime()
        w.pass().foreach { op =>
          records += h.timed(op, None)._1 ++ Map("pass" -> passes, "traced" -> false)
        }
        lastPass = (System.nanoTime() - p0) / 1e9
        // one sample per run, taken at the same point in every run
        if (passes == 0) disk = diskBytes
        passes += 1
      }
    val cpuS = (h.cpuNs - cpu0) / 1e9

    val out = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc, "data" -> data,
      "setup_s" -> setupS, "session_s" -> sessionS, "fixture_s" -> fixtureS,
      "warmup_s" -> warm, "passes" -> passes,
      "cpu_s" -> cpuS, "peak_rss_mb" -> Timing.peakRssMb,
      "peak_heap_mb" -> Timing.heapPeak.get / 1048576.0,
      "disk_mb" -> disk / 1048576.0,
      "oracle_entries" -> w.oracleEntries, "warmup_errors" -> h.warmupErrors,
      "ops" -> records,
      "traces" -> traces.map(_.toMap))
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
    System.exit(0)
  }
}

/** Times ops, releases what they leave behind, and reads process-level
  * counters.
  */
final class Timing(spark: SparkSession, roots: Seq[Path]) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .takeWhile(_ != '\n').take(200)

  /** Causes of warm-up ops that failed, by op name. */
  val warmupErrors = mutable.LinkedHashMap.empty[String, String]

  /** A warm-up run: its wall seconds; a failure is recorded, not raised. */
  def untimed(op: Op): Double = {
    val t0 = System.nanoTime()
    val error = try op.check(op.run()) catch { case e: Throwable => Some(message(e)) }
    val s = (System.nanoTime() - t0) / 1e9
    error.foreach(warmupErrors(op.name) = _)
    release()
    s
  }

  /** One timed op. With a scheduler trace, the op's events are drained
    * into a fresh [[OpTrace]] after the timed window closes.
    */
  def timed(op: Op, sched: Option[SchedulerTrace]): (Map[String, Any], Option[OpTrace]) = {
    val trace = sched.map { s => val t = new OpTrace(op.name); s.current = t; t }
    val fs0 = fsSnapshot()
    val live0 = if (trace.isDefined) parquetBytes() else 0L
    val t0 = System.nanoTime()
    val result = try Right(op.run()) catch { case e: Throwable => Left(message(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBridge.drain(spark.sparkContext)
    trace.foreach { t =>
      sched.get.current = new OpTrace("idle")
      val fs1 = fsSnapshot()
      fs1.foreach { case (k, v) => t.c(k) = v - fs0(k) }
      t.add("op.wall_s", wall)
      t.add("warehouse.live_bytes", (parquetBytes() - live0).toDouble)
      Timing.notes.asScala.foreach { case (k, v) => t.add(k, v) }
      Timing.notes.clear()
    }
    val error = result.fold(Some(_), r =>
      try op.check(r) catch { case e: Throwable => Some(message(e)) })
    val leaked = release()
    trace.foreach(_.c("freeze.leaked_rdds") = leaked.toDouble)
    (Map("name" -> op.name, "wall_s" -> wall,
      "error" -> error.orNull, "leaked" -> leaked), trace)
  }

  /** Counts the persisted RDDs, cache-manager entries and loaded state
    * stores an op left, then drops them as `graft.Bench` does between
    * entries, so no op runs in the previous one's memory.
    */
  def release(): Int = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.size
    val frames = Timing.sizeOf(spark.sharedState.cacheManager, "cachedData")
    val stores = Timing.loadedStateStores
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (stores > 0)
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    rdds + frames + stores
  }

  private def fsSnapshot(): Map[String, Double] = {
    val c = CountingFileSystem.all.map(k => s"fs.${k.name}" -> k.calls.get.toDouble)
    val meta = CountingFileSystem.meta.map(_.nanos.get).sum / 1e9
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    (c :+ ("fs.meta_s" -> meta) :+ ("fs.bytes_written" -> written.toDouble)).toMap
  }

  private def parquetBytes(): Long =
    roots.map(Timing.bytesUnder(_, _.toString.endsWith(".parquet"))).sum
}

object Timing {
  /** Values an op records about itself while a trace is attached (the
    * ci_pr op: its closure size, and the parquet bytes of its CI schema
    * before `Main.clean` drops it).
    */
  val notes = new java.util.concurrent.ConcurrentHashMap[String, Double]
  @volatile var tracing = false

  def bytesUnder(root: Path, keep: Path => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && keep(p.getFileName)).map(Files.size).sum
      finally s.close()
    }

  /** Largest heap in use right after a collection: the live set's peak. */
  val heapPeak = new java.util.concurrent.atomic.AtomicLong

  def watchHeap(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            heapPeak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }, null, null)
      case _ =>
    }
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def sizeOf(obj: AnyRef, field: String): Int = {
    val f = obj.getClass.getDeclaredField(field)
    f.setAccessible(true)
    f.get(obj) match {
      case s: Iterable[_] => s.size
      case m: java.util.Map[_, _] => m.size
      case other => sys.error(s"unexpected $field: ${other.getClass}")
    }
  }

  def loadedStateStores: Int = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    sizeOf(cls.getField("MODULE$").get(null), "loadedProviders")
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
