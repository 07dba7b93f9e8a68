package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CliConfig, Main, SparkEntry}
import graft.cli.DemoProject
import graft.core.Materialization

object Registry {
  /** The workload's entries (see perfbench/README.md for why each is in,
    * and what was left out).
    */
  val entries: Seq[String] = Seq(
    // engine writes: merge, partition-swap and predicate-scoped
    // incremental strategies, an SCD2 snapshot, merge-on-read logs with
    // compaction, and time-travel commits — Materializer, Snapshot,
    // MergeOnRead, TimeTravel and Warehouse commits (staged swaps)
    "m02_incremental_merge", "m03_insert_overwrite",
    "m26_incremental_predicates", "m04_snapshot_scd2",
    "m31_merge_on_read", "m29_time_travel",
    // operator reads, which commit nothing: reference-model SQL
    // (q-family) and one LLM entry per mechanism — a freeze (mm05), a
    // sizing probe (d03 `_auto`), a literal-heavy plan (d05) and the
    // zero-job broadcast gate (w05). d05 `_auto` is not the probe: its
    // oracle pins the sf0.01 count, so at sf0.1 it disagrees by
    // construction (DedupQueries.scala, d05auto).
    "q02_agg_groupby", "q10_window_rank",
    "mm05_audio_dedup", "d03_dedup_simhash_auto", "d05_embedding_neardup",
    "w05_robots_filter")
}

/** The registry workload: each op is one `SparkEntry.queries` entry sunk to
  * `noop`, in seeded order. Warm-up starts with one pass that writes each
  * entry's output as parquet for the DuckDB oracle (the same code and
  * inputs the timed passes run).
  */
final class Registry(spark: SparkSession, data: String,
    names: Seq[String], rng: scala.util.Random, checkDir: Path) extends Workload {
  private val fns = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql
  names.foreach(n => require(fns.contains(n), s"no registry entry $n"))

  def setup(): Unit = ()

  private def op(n: String, sink: DataFrame => Unit): Op =
    Op(n, () => sink(fns(n)(spark, data)))

  def pass(): IndexedSeq[Op] =
    rng.shuffle(names).map(op(_, _.write.format("noop").mode("overwrite").save()))
      .toIndexedSeq

  def warmup(time: Op => Double): Seq[Double] = {
    val check = rng.shuffle(names).map(n => op(n, _.coalesce(1).write
      .mode("overwrite").parquet(checkDir.resolve(n).toString)))
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json(oracles.filter { case (k, _) => names.contains(k) }))
    check.map(time)
  }

  def oracleEntries: Seq[String] = names.filter(oracles.contains)
}

/** `ci_pr`: each op is one pull request's CI — `Main.ci` with a per-PR
  * schema suffix and a seeded `changed` set, then `Main.clean` of that
  * suffix — against a copy of the prod warehouse [[CiPr.buildFixture]]
  * builds with `Main.run`.
  *
  * A pass is four PRs of fixed shapes, so every pass builds closures of
  * the same sizes (4, 4, 6 and 7 models); the seed picks which slices
  * and mart each PR edits, and the order.
  */
final class CiPr(spark: SparkSession, data: String, wh: String, nproc: Int,
    rng: scala.util.Random, fixture: Path) extends Workload {
  import CiPr.slices
  private val base = CliConfig(sfDir = data, warehouseRoot = wh,
    threads = nproc, slices = slices)
  private val graph = DemoProject.graph(slices)
  private val cloneable = graph.models.collect {
    case m if (m.materialization match {
      case Materialization.Incremental(_) | Materialization.Snapshot(_, _) => true
      case _ => false
    }) => m.name
  }.toSet
  private val views = graph.models
    .filter(_.materialization == Materialization.View).map(_.name).toSet
  private val downstream: Map[String, Seq[String]] =
    graph.models.flatMap(m => m.deps.map(_ -> m.name)).groupMap(_._1)(_._2)
  private def closure(changed: Set[String]): Set[String] =
    Iterator.iterate(changed)(s => s ++ s.flatMap(downstream.getOrElse(_, Nil)))
      .sliding(2).collectFirst { case Seq(a, b) if a == b => a }.get

  private var prodCounts = Map.empty[String, Long]
  private var nextPr = 0

  /** Copies the prod fixture into this run's fresh warehouse root. */
  def setup(): Unit = {
    val src = fixture.resolve("warehouse")
    val files = Files.walk(src)
    try files.iterator().asScala.foreach { p =>
      val dst = Paths.get(wh).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally files.close()
    prodCounts = Files.readAllLines(fixture.resolve("counts.tsv")).asScala
      .map(_.split('\t')).map(f => f(0) -> f(1).toLong).toMap
  }

  private val marts = Seq("mart_segment_spend", "mart_nation_spend",
    "mart_recent_buyers")

  private def shapes(): Seq[Set[String]] = {
    val s = rng.shuffle((0 until slices).toList)
    def mart = marts(rng.nextInt(marts.size))
    Seq(
      Set(s"stg_orders_${s(0)}"),
      Set(s"int_spend_${s(1)}", s"stg_orders_${s(2)}", mart),
      Set("stg_customer", "mart_recent_buyers"),
      Set("int_spend_all"))
  }

  private def pr(changed: Set[String]): Op = {
    nextPr += 1
    val cfg = base.copy(suffix = s"pr$nextPr", changed = changed)
    Op(s"pr$nextPr", () => {
      val r = Main.ci(spark, cfg.copy(command = "ci"))
      if (Timing.tracing) {
        Timing.notes.put("ci.closure_models", r.ran.size.toDouble)
        Timing.notes.put("warehouse.live_bytes", Timing.bytesUnder(
          java.nio.file.Paths.get(wh, r.ciSchema), _.toString.endsWith(".parquet")).toDouble)
      }
      Main.clean(spark, cfg.copy(command = "clean"))
      r
    }, r => verify(changed, cfg.suffix, r.asInstanceOf[Main.CiReport]))
  }

  /** The PR's CI outputs against prod and an independently computed
    * closure; None when all hold.
    */
  private def verify(changed: Set[String], suffix: String,
      r: Main.CiReport): Option[String] = {
    val want = closure(changed)
    val clones = want.intersect(cloneable)
    val built = want -- views
    val errs = Seq(
      Option.when(r.ran.toSet != want)(s"built ${r.ran.sorted} want ${want.toSeq.sorted}"),
      Option.when(r.ciCounts.keySet != built)(s"counted ${r.ciCounts.keySet}"),
      r.ciCounts.collectFirst { case (n, c) if prodCounts.get(n).exists(_ != c) =>
        s"$n has $c rows, prod ${prodCounts(n)}" },
      Option.when(r.copies.map(_.table).toSet != clones)(
        s"cloned ${r.copies.map(_.table)} want $clones"),
      r.copies.collectFirst { case c if c.status != "copied" ||
        prodCounts.get(c.table).exists(_ != c.rows) =>
        s"clone ${c.table}: ${c.status}, ${c.rows} rows" },
      Option.when(Files.exists(java.nio.file.Paths.get(wh, s"analytics_$suffix")))(
        s"analytics_$suffix survived clean")).flatten
    errs.headOption
  }

  def pass(): IndexedSeq[Op] = rng.shuffle(shapes()).map(pr).toIndexedSeq

  /** Two one-slice PRs: after only one, the first timed PR still read up
    * to 1.8x the PRs after it.
    */
  def warmup(time: Op => Double): Seq[Double] =
    Seq.fill(2)(time(pr(Set(s"int_spend_${rng.nextInt(slices)}"))))

  def oracleEntries: Seq[String] = Seq("m12_demo_dag")
}

object CiPr {
  val slices = 19

  /** The prod warehouse every ci_pr run starts from: `Main.run` of the
    * 43-model demo DAG, its persisted models' row counts, and the prod
    * segment mart written for m12's DuckDB oracle (m12 is the same DAG's
    * `mart_segment_spend`). Built once per source state, in its own JVM.
    */
  def buildFixture(spark: SparkSession, data: String, nproc: Int, dir: Path): Unit = {
    val wh = dir.resolve("warehouse").toString
    val counts = Main.run(spark, CliConfig(command = "run", sfDir = data,
      warehouseRoot = wh, threads = nproc, slices = slices)).counts
    Files.writeString(dir.resolve("counts.tsv"),
      counts.map { case (n, c) => s"$n\t$c\n" }.mkString)
    val check = dir.resolve("check")
    spark.read.parquet(s"$wh/analytics/mart_segment_spend")
      .select(col("c_mktsegment"), col("n_buyers"), col("n_orders"),
        col("spend").cast("double").as("spend"))
      .coalesce(1).write.mode("overwrite")
      .parquet(check.resolve("m12_demo_dag").toString)
    Files.writeString(check.resolve("oracle_sql.json"),
      Json(Map("m12_demo_dag" -> SparkEntry.oracleSql("m12_demo_dag"))))
  }
}
