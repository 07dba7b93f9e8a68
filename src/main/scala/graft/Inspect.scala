package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Multimodal}

/** Dev-loop inspection of registered entries, on the session Bench
  * times and Verify hashes ([[GraftSession]]) over `SPARK_GRAFT_SF_DIR`
  * (default sf0.1, Bench's corpus). Bench medians time a whole plan;
  * these subcommands say what the plan is and where its seconds go:
  *
  *  - `plan [--execute|--audit] <entries>` — the formatted physical
  *    plan; `--execute` runs the query first and prints the FINAL
  *    adaptive plan (ReusedExchange/ReusedSubquery only appear after
  *    execution); `--audit` prints one multi-scan line per entry (the
  *    PLANS.md loop).
  *  - `stream <entry>` — a streaming entry under a listener, one line
  *    per micro-batch with its durationMs breakdown and state ops.
  *  - `stages <d05|ivf|s19|mm05>` — stage the 10× corpus, then time an
  *    operator's stages one by one.
  *  - `dials <10x|100x|m12|both>` — stage the 10×/100× corpora Bench
  *    probes and decompose the Auto-dial operators (codebook,
  *    occupancy, pairs) with the candidate volume the dials bound;
  *    `m12` sweeps the demo DAG's runner threads.
  *
  * {{{
  *   sbt "runMain graft.Inspect plan --audit d04_ngram_jaccard s05_knn_graph"
  * }}}
  *
  * Extra session confs (say a state-store provider for an A/B) are
  * Spark's own `-Dspark.*` system properties, which SparkConf loads:
  * `sbt 'set run / javaOptions += "-Dspark.graft.stream.rocksdb=true"'
  * "runMain graft.Inspect stream e14_stream_join_outer"`.
  */
object Inspect {

  private val usage =
    "usage: Inspect plan [--execute|--audit] <entries> | stream <entry> | " +
      "stages <d05|ivf|s19|mm05> | dials <10x|100x|m12|both>"

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[time] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cmd: SparkSession => Unit = args.toSeq match {
      case "plan" +: names if names.exists(!_.startsWith("--")) =>
        plan(_, sfDir, names)
      case Seq("stream", name) => stream(_, sfDir, name)
      case Seq("stages", op @ ("d05" | "ivf" | "s19" | "mm05")) =>
        stages(_, sfDir, op)
      case Seq("dials", which @ ("10x" | "100x" | "m12" | "both")) =>
        dials(_, sfDir, which)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = GraftSession.build()
    try cmd(spark) finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val execute = args.contains("--execute")
    val auditOnly = args.contains("--audit")
    for (name <- args.filterNot(_.startsWith("--"))) {
      if (!auditOnly) println(s"==== $name ====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (execute || auditOnly) {
        df.count()
        val p = df.queryExecution.executedPlan.toString
        if (!auditOnly) println(p)
        // every FileScan / Generate in the FINAL plan is a real pass
        // over (a stream derived from) the input — >1 over the same
        // table means a shared subtree is recomputed per consumer
        println(s"[audit] $name: fileScans=" +
          "FileScan".r.findAllIn(p).size +
          " generates=" + "Generate".r.findAllIn(p).size +
          " reusedExchanges=" + "ReusedExchange".r.findAllIn(p).size +
          " existingRdd=" + "ExistingRDD".r.findAllIn(p).size)
      } else
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
  }

  private def stream(spark: SparkSession, sfDir: String,
      name: String): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[stream] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }
          .toSeq.sorted.mkString(" ")
        println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} $d")
        p.stateOperators.foreach { so =>
          println(s"[stream]   state op=${so.operatorName} " +
            s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}")
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println("[stream] terminated")
    })
    // warmup: absorb codegen/session setup outside the timing
    noop(spark.read.parquet(s"$sfDir/nation.parquet"))
    time(name)(noop(SparkEntry.queries(name)(spark, sfDir)))
  }

  private def stages(spark: SparkSession, sfDir: String, op: String): Unit = {
    val dir = graft.core.Scratch.dir("inspect10x").toString
    time("stage 10x corpus")(Bench.stageScaled(spark, sfDir, dir))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    op match {
      case "d05" =>
        val n = time("normed + checkpoint")(
          Ann.normed(emb).localCheckpoint(true))
        time("rows")(println(s"  n = ${n.count()}"))
        for (bits <- Seq(6, 11)) {
          time(s"bucket signatures bits=$bits")(
            println(s"  buckets = ${Ann.lshBuckets(n, 8, bits, 64, 7L).count()}"))
          time(s"candidate pairs bits=$bits")(
            println(s"  cands = ${Ann.lshCandidatePairs(n, 8, bits, 64, 7L).count()}"))
        }
        time("full nearDupLsh bits=6")(
          println(s"  pairs = ${Ann.nearDupLsh(emb, 0.4, 8, 6, 64, 7L).count()}"))
        time("full nearDupLshAuto")(
          println(s"  pairs = ${Ann.nearDupLshAuto(emb, 0.4).count()}"))
      case "ivf" =>
        val n = time("normed + checkpoint")(
          Ann.normed(emb).localCheckpoint(true))
        val cb = time("ivfCodebook k=16")(Ann.ivfCodebook(emb, 16, 2))
        time("assigned (literal codebook) count")(
          println(s"  rows = ${Ann.assigned(emb, cb).count()}"))
        time("full d10 semDedup")(
          println(s"  pairs = ${Ann.semDedup(emb, 0.4).count()}"))
        // the fixed-centroid dial refuses 10x-scale corpora by design
        // (Gate) — report the refusal instead of aborting before the
        // auto comparison this mode exists to measure
        time("full s05 knnGraph k=3")(
          try println(s"  edges = ${Ann.knnGraph(emb, 3).count()}")
          catch { case e: graft.operators.Gate.SizeGatedException =>
            println(s"  gated by design: ${e.getMessage.takeWhile(_ != ':')}") })
        time("full s05 knnGraphAuto k=3")(
          println(s"  edges = ${Ann.knnGraphAuto(emb, 3).count()}"))
        println(s"  (n frozen: ${n.count()})")
      case "s19" =>
        // stage-by-stage replica of Ann.ivfpqOpq's plan
        val queries = emb.filter(col("vec_id") < 20)
        time("opqAllocation (explode+groupBy+collect)")(
          println(s"  perm head = ${Ann.opqAllocation(emb).take(4)}"))
        val cb = time("ivfCodebook k=16")(Ann.ivfCodebook(emb, 16, 2))
        println(s"  centroids = ${cb.length}")
        time("full ivfpqOpq (registered s19 plan)")(
          noop(Ann.ivfpqOpq(queries, emb, k = 5)))
        time("full ivfpq (s04 plan, same dials)")(
          noop(Ann.ivfpq(queries, emb, k = 5)))
      case "mm05" =>
        // fixture synth vs decode+fingerprint vs pigeonhole join
        val media = Multimodal.wavDupMedia(spark, 1200)
        time("wavDupMedia synth (noop)")(noop(media))
        val fp = Multimodal.audioFingerprint(media)
          .select(col("media_id"), col("afp").as("phash"))
        time("synth + decode + fingerprint (noop)")(noop(fp))
        time("full phashPairs")(println(
          s"  pairs = ${Multimodal.phashPairs(fp, maxHamming = 2).count()}"))
    }
  }

  private def dials(spark: SparkSession, sfDir: String,
      which: String): Unit = {
    def audit(tag: String, dir: String): Unit = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val k = math.max(16L, n / 256L)
      println(s"[$tag] n=$n k=$k routed=${k > 256L}")
      val cb = time(s"$tag kmeans")(Ann.kmeansDf(emb, k).localCheckpoint(true))
      println(s"  centroids = ${cb.count()}")
      // Σn² is the within-cluster pair bound
      val stats = time(s"$tag occupancy (assign + hist)")(
        Ann.clusterSizes(emb, k)
          .agg(count(lit(1)).as("used"), max("n").as("maxn"),
            sum(col("n") * col("n")).as("sumsq")).head)
      println(s"  used=${stats.getLong(0)}/$k max=${stats.getLong(1)} " +
        s"sumsq=${stats.getLong(2)} (balanced would be ~${n * 256})")
      time(s"$tag semDedupAuto")(println(
        s"  pairs = ${Ann.semDedupAuto(emb, threshold = 0.4).count()}"))
      time(s"$tag knnGraphAuto")(println(
        s"  edges = ${Ann.knnGraphAuto(emb, k = 3).count()}"))
    }

    if (which == "10x" || which == "both") {
      val d = graft.core.Scratch.dir("inspect10x").toString
      time("stage 10x corpus")(Bench.stageScaled(spark, sfDir, d))
      audit("10x", d)
      for ((tag, dd) <- Seq(("1x", sfDir), ("10x", d)))
        time(s"d13 $tag")(noop(
          SparkEntry.queries("d13_cdc_chunk_dedup")(spark, dd)))
    }
    if (which == "m12") {
      // demo-DAG runner threads: how much of the wall is critical path
      // vs fan-out
      val c = graft.sources.Catalog(spark, sfDir)
      for (t <- Seq(1, 4, 8); rep <- 1 to 2) {
        val wh = graft.core.Warehouse.scratch(spark, s"m12probe_t${t}_$rep")
        time(s"m12 threads=$t rep=$rep")(
          graft.core.Runner(graft.core.Materializer(wh), c.table, threads = t)
            .runAll(graft.cli.DemoProject.graph(19)))
      }
    }
    if (which == "100x" || which == "both") {
      val d = graft.core.Scratch.dir("inspect100x").toString
      time("stage 100x corpus")(Bench.stageEmbeddings100x(spark, sfDir, d))
      audit("100x", d)
    }
  }
}
