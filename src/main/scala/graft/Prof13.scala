package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement tool (round 13): per-stage wall timing of the curation
  * family's shared pipeline, guide §1 discipline — noop sink so the
  * computation is timed, not the sink; labeled jobs; each stage timed
  * from a cold cache so the split is honest.
  *
  * Usage: runMain graft.Prof13 <sfDir> [stages...]
  */
object Prof13 {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val which = args.drop(1).toSet
    def want(s: String) = which.isEmpty || which.contains(s)
    val spark = GraftSession.get()
    import graft.pipelines.Curation
    import graft.functions.TextFunctions._

    def timed(label: String)(f: => Unit): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(label)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain before reading counts
        spark.sparkContext.removeSparkListener(l)
        println(f"STAGE $label%-28s $dt%8.2f s  jobs=${jobs.get} tasks=${tasks.get}")
        spark.sparkContext.setJobDescription(null)
      }
    }

    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val cfg = Curation.Config(minQuality = 2.95)

    if (want("tokenize"))
      timed("tokenize+hash only") {
        noop(docs.select(col("doc_id"),
          array_sort(array_distinct(transform(array_distinct(tokens(col("text"))), strHash(_))))
            .as("toks")))
      }
    if (want("score")) {
      timed("score: quality+shingles+overlap") {
        // replicate Curation.score inline (it is private)
        val (nTokens, sumLen, nStop, nPunct) = qualityCounters(col("tk"), col("text"))
        val benchSh = bench
          .select(tokens(col("text")).as("tk"))
          .select(explode(wordShingles(col("tk"), 3)).as("h")).distinct()
        val withSh = docs
          .withColumn("tk", tokens(col("text")))
          .withColumn("quality", qualityScore(nTokens, sumLen, nStop, nPunct))
          .withColumn("sh", wordShingles(col("tk"), 3))
          .drop("tk")
        val overlapped = withSh
          .crossJoin(broadcast(benchSh.agg(array_sort(collect_set(col("h"))).as("bench_sh"))))
          .withColumn("n_overlap",
            call_function("sorted_intersect_count", col("sh"), col("bench_sh")))
        noop(overlapped.drop("sh", "bench_sh"))
      }
    }
    if (want("pairs"))
      timed("lsh pairs over candidates") {
        // approximates the candidate set with the quality+contam filter result
        val (pairs, rel) = graft.queries.SimilarityQ
          .lshNearDupPairsScoped(docs.select(col("doc_id"), col("text")),
            hinted = cfg.broadcastPairDims, threshold = cfg.jaccardThreshold)
        noop(pairs)
        rel()
      }
    if (want("curate"))
      timed("curate full (noop)") {
        noop(Curation.curate(docs, bench, cfg))
      }
    if (want("q136"))
      timed("q136 shape: curate+forget") {
        val prev = Curation.curate(docs, bench, cfg)
        val victims = docs.filter(col("doc_id") % 31 === 1).select("doc_id")
        noop(Curation.forget(prev, victims, docs, cfg))
      }
    if (want("q136chk"))
      timed("q136chk: checkpointed prev") {
        val prev = Curation.curate(docs, bench, cfg)
          .select(Curation.DecisionCols.map(col): _*).localCheckpoint(true)
        val victims = docs.filter(col("doc_id") % 31 === 1).select("doc_id")
        noop(Curation.forget(prev, victims, docs, cfg))
      }
    if (want("q121")) {
      import graft.operators.{LexIndex, UnigramLm, VecIndex}
      import org.apache.spark.sql.types.IntegerType
      val root = new java.io.File("target/qindex/prof121").getAbsolutePath
      val rp = new org.apache.hadoop.fs.Path(root)
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
      val isQ = (col("doc_id") % 97 === 0) && (col("doc_id") < 10000000L)
      val tf = UnigramLm.termFreq(docs.filter(!isQ), "doc_id", "text").cache()
      timed("q121 tf materialize") { noop(tf) }
      timed("q121 LexIndex.build") { LexIndex.build(tf, s"$root/lex") }
      timed("q121 df write") {
        tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$root/df")
      }
      tf.unpersist()
      val emb = Tables.embeddings(spark, sfDir)
      val isQv = (col("vec_id") % 97 === 0) && (col("vec_id") < 10000000L)
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast(IntegerType).as("cid"),
          col("embedding").as("centroid"))
      timed("q121 VecIndex.build") {
        VecIndex.build(emb.filter(!isQv), "vec_id", "embedding", cents, s"$root/vec")
      }
    }
    if (want("q113")) {
      import graft.operators.{Bm25, UnigramLm}
      val qMod = 97L; val qCap = 10000000L; val fuseDepth = 10
      val isQ = (col("doc_id") % qMod === 0) && (col("doc_id") < qCap)
      val tf = UnigramLm.termFreq(docs.filter(!isQ), "doc_id", "text").cache()
      timed("q113 tf materialize") { noop(tf) }
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
      val qdocs = docs.filter(isQ)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(tokens(col("text")))).as("term"))
      val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("bm25_s").desc, col("doc_id").asc)
      timed("q113 lex side (tf cached)") {
        noop(Bm25.scorePairs(tf, Bm25.queryTerms(qdocs, dfreq, nDocs, 1000L))
          .withColumn("rb", row_number().over(wb))
          .filter(col("rb") <= fuseDepth)
          .select(col("q_id"), col("doc_id"), col("rb")))
      }
      val emb = Tables.embeddings(spark, sfDir)
        .withColumn("nrm", sqrt(call_function("float_dot", col("embedding"), col("embedding"))))
      val isQv = (col("vec_id") % qMod === 0) && (col("vec_id") < qCap)
      val qv = emb.filter(isQv)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("doc_id").asc)
      timed("q113 vec side") {
        noop(emb.filter(!isQv)
          .crossJoin(broadcast(qv))
          .withColumn("cos", call_function("float_dot", col("embedding"), col("q_emb")) /
            (col("nrm") * col("q_nrm")))
          .select(col("q_id"), col("vec_id").as("doc_id"), col("cos"))
          .withColumn("rv", row_number().over(wv))
          .filter(col("rv") <= fuseDepth)
          .select(col("q_id"), col("doc_id"), col("rv")))
      }
      tf.unpersist()
      timed("q113 full (uncached)") {
        noop(graft.queries.Registry.byName("q113_rrf_hybrid").run(spark, sfDir))
      }
      timed("q111 full (uncached)") {
        noop(graft.queries.Registry.byName("q111_bm25_topk").run(spark, sfDir))
      }
    }
    // generic warm-measured registry runs: `run:<name>[,<name>...]` runs
    // each named query twice (cold then warm — the warm number is the
    // bench-comparable one; codegen/plan caches populated by the first)
    which.filter(_.startsWith("run:")).foreach { spec =>
      spec.stripPrefix("run:").split(",").foreach { qn =>
        val q = graft.queries.Registry.byName(qn)
        timed(s"$qn cold") { noop(q.run(spark, sfDir)) }
        timed(s"$qn warm") { noop(q.run(spark, sfDir)) }
      }
    }
    // per-JOB breakdown of one warm query run: `jobs:<name>` prints every
    // driver job with its wall time, task count and submitting call site
    // — the round-14 lens for the per-job-constant hunt (guide §1.5)
    which.filter(_.startsWith("jobs:")).foreach { spec =>
      spec.stripPrefix("jobs:").split(",").foreach { qn =>
        val q = graft.queries.Registry.byName(qn)
        spark.catalog.clearCache()
        noop(q.run(spark, sfDir)) // warm pass: plans/codegen cached
        spark.catalog.clearCache()
        val rows = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String, java.util.concurrent.atomic.AtomicInteger)]
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val site = js.stageInfos.sortBy(_.stageId).lastOption
              .map(_.name).getOrElse("?")
            rows.put(js.jobId, (System.nanoTime(), site,
              new java.util.concurrent.atomic.AtomicInteger))
          }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            rows.forEach((id, v) => if (v._1 > 0) ()) // no-op; tasks below
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            rows.computeIfPresent(je.jobId, (_, v) =>
              (System.nanoTime() - v._1, v._2, v._3))
        }
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        noop(q.run(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400)
        spark.sparkContext.removeSparkListener(l)
        println(f"JOBS $qn total $dt%.2f s, ${rows.size} jobs")
        import scala.jdk.CollectionConverters._
        rows.asScala.toSeq.sortBy(_._1).foreach { case (id, v) =>
          println(f"  job $id%3d ${v._1 / 1e9}%7.3f s  ${v._2}")
        }
      }
    }
    if (want("canon")) {
      // isolate keepBest (canonicalize + window) from pair generation
      val quality = {
        val (nTokens, sumLen, nStop, nPunct) = qualityCounters(col("tk"), col("text"))
        docs.withColumn("tk", tokens(col("text")))
          .withColumn("quality", qualityScore(nTokens, sumLen, nStop, nPunct))
          .select(col("doc_id"), col("quality"), col("text"))
      }
      val (pairsRaw, rel) = graft.queries.SimilarityQ
        .lshNearDupPairsScoped(quality.select(col("doc_id"), col("text")),
          hinted = cfg.broadcastPairDims, threshold = cfg.jaccardThreshold)
      val pairs = pairsRaw.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val quals = quality.select(col("doc_id"), col("quality")).localCheckpoint(true)
      rel()
      println(s"  pairs=${pairs.count()} docs=${quals.count()}")
      timed("keepBest only") {
        noop(graft.operators.DedupGroups
          .keepBest(quals, "doc_id", "quality", pairs, "doc_a", "doc_b"))
      }
      // canonicalize inline, per-step timers
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"  CANONSTEP $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        r
      }
      val p = t("p checkpoint") {
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).localCheckpoint()
      }
      val label0 = t("label0") {
        p.select(col("a").as("id"), col("b").as("nbr"))
          .union(p.select(col("b").as("id"), col("a").as("nbr")))
          .groupBy(col("id")).agg(min(col("nbr")).as("nbr"))
          .select(col("id"), least(col("id"), col("nbr")).as("label"))
          .localCheckpoint()
      }
      val contracted = t("contract") {
        p.join(broadcast(label0.select(col("id").as("a"), col("label").as("la"))), "a")
          .join(broadcast(label0.select(col("id").as("b"), col("label").as("lb"))), "b")
          .select(col("la").as("src"), col("lb").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
      }
      val edges = t("edges checkpoint") {
        contracted.union(contracted.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().localCheckpoint()
      }
      println(s"  contracted edges=${edges.count()}")
      var verts = t("verts0") {
        edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
          .localCheckpoint()
      }
      var changed = 1L
      var i = 0
      while (changed > 0 && i < 50) {
        val updated = t(s"round $i checkpoint") {
          val nbrMin = edges.join(verts, edges("dst") === verts("id"))
            .groupBy(col("src")).agg(min(col("label")).as("nbr"))
            .select(col("src").as("id"), col("nbr"))
          verts.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("label"),
              least(col("label"), coalesce(col("nbr"), col("label"))).as("next"))
            .localCheckpoint()
        }
        changed = t(s"round $i count") {
          updated.filter(col("next") =!= col("label")).count()
        }
        verts = updated.select(col("id"), col("next").as("label"))
        i += 1
      }
      val canon = t("compose") {
        label0.join(verts.select(col("id").as("label"), col("label").as("canon")),
          Seq("label"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("canon"), col("label")).as("canonical_id"))
      }
      t("window+noop") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("component"))
          .orderBy(col("quality").desc, col("doc_id").asc)
        noop(quals.join(canon.withColumnRenamed("doc_id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("canonical_id"), col("doc_id")))
          .drop("canonical_id")
          .withColumn("keep", row_number().over(w) === 1))
      }
    }
    spark.stop()
  }
}
