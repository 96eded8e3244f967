package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only stage-level timing probe for optimization rounds: times
  * labelled sub-pipelines of the expensive bench headliners with the
  * noop sink (guide §1.4) so the computation is measured, not the
  * sink. Not part of the driver contract; never registered in
  * SparkEntry. Usage: runMain graft.Probe <sfDir> <probe>[,probe...] */
object Probe {
  private def time(label: String, spark: SparkSession)(df: => DataFrame): Unit = {
    spark.sparkContext.setJobDescription(label)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    spark.sparkContext.setJobDescription(null)
  }

  /** Runtime counters for a labelled block: jobs/stages/tasks run and
    * shuffle bytes moved — the honest exchange-count evidence for
    * pipelines whose logical dumps re-inline persisted subtrees (the
    * r15 plan files overcount) or hide behind checkpoint leaves. */
  private class Meter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    val detail =
      new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      val r = sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
      shufWrite.addAndGet(w)
      shufRead.addAndGet(r)
      val ms = (for {
        a <- sc.stageInfo.completionTime; b <- sc.stageInfo.submissionTime
      } yield a - b).getOrElse(-1L)
      detail.add(f"    stage ${sc.stageInfo.stageId}%-4d " +
        f"tasks=${sc.stageInfo.numTasks}%-3d ${ms}%5d ms " +
        f"w=${w / 1e6}%8.2f MB r=${r / 1e6}%8.2f MB  " +
        sc.stageInfo.name.take(90))
      ()
    }
  }

  /** time() + Meter: prints seconds plus jobs/stages/tasks and shuffle
    * read/write MB for everything the block runs (including any eager
    * work inside operator construction). */
  private def meter(label: String, spark: SparkSession)(body: => Unit): Unit = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    spark.sparkContext.setJobDescription(label)
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    // the final stage events reach the listener asynchronously
    org.apache.spark.sql.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(m)
    spark.sparkContext.setJobDescription(null)
    println(f"[meter] $label%-34s $sec%8.3f s  jobs=${m.jobs.get}%-3d " +
      f"stages=${m.stages.get}%-3d tasks=${m.tasks.get}%-5d " +
      f"shufW=${m.shufWrite.get / 1e6}%9.2f MB shufR=${m.shufRead.get / 1e6}%9.2f MB")
    if (sys.env.contains("SPARK_GRAFT_METER_DETAIL")) {
      val it = m.detail.iterator()
      while (it.hasNext) println(it.next())
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val which = if (args.length > 1) args(1).split(",").toSet else Set("containment")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables(spark, sfDir, "documents")

    if (which("containment")) {
      // mirror of SetSimJoin.containmentBody stage by stage (r15 shape:
      // window shingler + B-side positional filter)
      val toks = docs
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[a-z]+', 0)").as("ts"))
        .filter(size(col("ts")) >= 3)
      val tau = 0.4
      val tokRows = graft.ops.TextDedup
        .wordShingleRows(toks, "doc_id", "ts", 3)
        .withColumn("h", xxhash64(col("tok")))
        .persist()
      time("tokRows (explode+hash)", spark)(tokRows)
      val hsets = tokRows.groupBy("id")
        .agg(count(lit(1)).as("n"), collect_set(col("h")).as("hs0"))
        .select(col("id"), col("hs0").as("hs")).persist()
      time("hsets (collect_set)", spark)(hsets)
      val freq = tokRows.groupBy("h").agg(count(lit(1)).as("f"))
      time("freq", spark)(freq)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("id").orderBy(col("f"), col("h"))
      val ws = Window.partitionBy("id")
      val ordered = tokRows.join(freq, "h")
        .withColumn("s", count(lit(1)).over(ws))
        .withColumn("p", row_number().over(w))
        .select(col("id"), col("s"), col("p"), col("h").as("tok"))
        .persist()
      time("ordered (freq join + windows)", spark)(ordered)
      val aPrefix = ordered
        .filter(col("p") <= col("s") - ceil(lit(tau) * col("s")) + 1)
        .select(col("id").as("a"), col("s").as("sa"), col("p").as("pa"),
          col("tok"))
      val bAll = ordered.select(col("id").as("b"), col("s").as("sb"),
        col("p").as("pb"), col("tok"))
      val candRaw = aPrefix.join(bAll, "tok")
        .filter(col("a") =!= col("b"))
        .filter(col("sb") >= ceil(lit(tau) * col("sa")))
        .filter(lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
          ceil(lit(tau) * col("sa")))
      spark.sparkContext.setJobDescription("cand count")
      val t0 = System.nanoTime()
      val nRaw = candRaw.count()
      println(f"[probe] cand rows pre-distinct: $nRaw (${(System.nanoTime()-t0)/1e9}%.3f s)")
      val cand = candRaw.select("a", "b").distinct().persist()
      time("cand distinct", spark)(cand)
      println(s"[probe] cand pairs: ${cand.count()}")
      val ha = hsets.select(col("id").as("a"), col("hs").as("ha"))
      val hb = hsets.select(col("id").as("b"), col("hs").as("hb"))
      val s1 = cand.join(ha, "a").join(hb, "b")
        .withColumn("ih", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .filter(col("ih").cast("double") / size(col("ha")) >= tau)
        .select("a", "b").persist()
      time("hashed verify", spark)(s1)
      println(s"[probe] survivors: ${s1.count()}")
      val ids = s1.select(explode(array(col("a"), col("b"))).as("id"))
        .distinct()
      val vtok = tokRows.join(broadcast(ids), "id")
        .select(col("id"), col("tok"))
      val inter = s1
        .join(vtok.select(col("id").as("a"), col("tok")), "a")
        .join(vtok.select(col("id").as("b"), col("tok")), Seq("b", "tok"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      time("exact verify", spark)(inter)
    }

    if (which("jaccard")) {
      // mirror of SetSimJoin.jaccardBody stage by stage (r15 shape)
      import org.apache.spark.sql.expressions.Window
      val toks = docs
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[a-z]+', 0)").as("ts"))
        .filter(size(col("ts")) >= 3)
      val tau = 0.3
      val tokRows = graft.ops.TextDedup
        .wordShingleRows(toks, "doc_id", "ts", 3)
        .withColumn("h", xxhash64(col("tok")))
        .persist()
      time("j tokRows", spark)(tokRows)
      val hsets = tokRows.groupBy("id")
        .agg(count(lit(1)).as("n"), collect_set(col("h")).as("hs0"))
        .select(col("id"), col("hs0").as("hs")).persist()
      time("j hsets", spark)(hsets)
      val freq = tokRows.groupBy("h").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy("id").orderBy(col("f"), col("h"))
      val ws = Window.partitionBy("id")
      val prefix = tokRows.join(freq, "h")
        .withColumn("s", count(lit(1)).over(ws))
        .withColumn("p", row_number().over(w))
        .filter(col("p") <= col("s") - ceil(lit(tau) * col("s")) + 1)
        .select(col("id"), col("s"), col("p"), col("h").as("tok"))
        .persist()
      time("j prefix (freq join + windows)", spark)(prefix)
      val a = prefix.select(col("id").as("a"), col("s").as("sa"),
        col("p").as("pa"), col("tok"))
      val candRaw = a.join(prefix.select(col("id").as("b"),
          col("s").as("sb"), col("p").as("pb"), col("tok")), "tok")
        .filter(col("a") < col("b"))
        .filter(col("sb") * tau <= col("sa") * lit(1.0 + 1e-12) + lit(1e-9) &&
          col("sa") * tau <= col("sb") * lit(1.0 + 1e-12) + lit(1e-9))
        .filter(lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
          ceil(lit(tau) / (1 + tau) * (col("sa") + col("sb"))))
      val t0j = System.nanoTime()
      val nRaw = candRaw.count()
      println(f"[probe] j cand rows pre-distinct: $nRaw (${(System.nanoTime()-t0j)/1e9}%.3f s)")
      val cand = candRaw.select("a", "b").distinct().persist()
      time("j cand distinct", spark)(cand)
      println(s"[probe] j cand pairs: ${cand.count()}")
      val ha = hsets.select(col("id").as("a"), col("hs").as("ha"))
      val hb = hsets.select(col("id").as("b"), col("hs").as("hb"))
      val s1 = cand.join(ha, "a").join(hb, "b")
        .withColumn("ih", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("uh",
          (size(col("ha")) + size(col("hb"))).cast("long") - col("ih"))
        .filter(col("ih").cast("double") / col("uh") >= tau)
        .select("a", "b").persist()
      time("j hashed verify", spark)(s1)
      println(s"[probe] j survivors: ${s1.count()}")
    }

    if (which("shingle")) {
      // A/B the two shingle-row formulations feeding SetSimJoin
      import org.apache.spark.sql.expressions.Window
      val toksDf = docs
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[a-z]+', 0)").as("ts"))
        .filter(size(col("ts")) >= 3)
      // current: interpreted HOF wordShingles + array_distinct + explode
      val hof = toksDf
        .withColumn("st", graft.ops.TextDedup.wordShingles(col("ts"), 3))
        .select(col("doc_id").as("id"),
          explode(col("st")).as("tok"))
      time("shingle rows: HOF path", spark)(hof)
      time("shingle rows: HOF path (2nd)", spark)(hof)
      // candidate: posexplode + window leads (codegen) + distinct
      val tokRows = toksDf
        .select(col("doc_id").as("id"), posexplode(col("ts")))
        .toDF("id", "pos", "tok")
      val w = Window.partitionBy("id").orderBy("pos")
      val leads = col("tok") +:
        (1 until 3).map(j => lead(col("tok"), j).over(w))
      val winRows = tokRows
        .select(col("id"), leads.last.isNotNull.as("full"), col("pos"),
          concat_ws(" ", leads: _*).as("shingle"))
        .filter(col("full") || col("pos") === 0)
        .select(col("id"), col("shingle").as("tok"))
        .distinct()
      time("shingle rows: window path", spark)(winRows)
      time("shingle rows: window path (2nd)", spark)(winRows)
      println(s"[probe] hof rows=${hof.distinct().count()} win rows=${winRows.count()}")
    }

    if (which("emb")) {
      graft.functions.GraftFunctions.register(spark)
      val emb = Tables(spark, sfDir, "embeddings")
      println(s"[probe] embeddings rows=${emb.count()} dim=" +
        emb.select(size(col("embedding"))).head().getInt(0))
      val t0 = System.nanoTime()
      val pairs = graft.ops.VectorSim.embeddingDedupPairs(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.4, native = true)
      pairs.write.format("noop").mode("overwrite").save()
      println(f"[probe] embeddingDedupPairs total ${(System.nanoTime()-t0)/1e9}%.3f s")
      // stage mirror (current shape) for the per-stage split
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val planes = 4; val tables = 8
      val coded = corpus.select(col("id"), col("vec"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            call_function("graft_lsh_bucket", col("vec"), lit(planes), lit(t))
              .as("bucket"))): _*)).as("tb"))
        .select(col("id"), col("tb.t"), col("tb.bucket")).persist()
      time("emb coded", spark)(coded)
      val probed = coded.select(col("id").as("a_id"), col("t").as("at"),
        explode(graft.ops.VectorSim.probeBuckets(col("bucket"), planes, 2)).as("probe"))
      val candsRaw = probed.join(coded,
        col("at") === col("t") && col("probe") === col("bucket") &&
          col("a_id") < col("id"))
        .select(col("a_id"), col("id").as("b_id"))
      var t1 = System.nanoTime()
      println(s"[probe] emb candRaw rows=${candsRaw.count()} (${(System.nanoTime()-t1)/1e9} s)")
      val cands = candsRaw.distinct().persist()
      time("emb cands distinct", spark)(cands)
      t1 = System.nanoTime()
      println(s"[probe] emb cand pairs=${cands.count()} (${(System.nanoTime()-t1)/1e9} s)")
      val va = corpus.select(col("id").as("__aid"), col("vec").as("a_vec"))
      val vb = corpus.select(col("id").as("__bid"), col("vec").as("b_vec"))
      val ver = cands.join(va, col("a_id") === col("__aid"))
        .join(vb, col("b_id") === col("__bid"))
        .select(col("a_id"), col("b_id"),
          call_function("graft_cosine", col("a_vec"), col("b_vec")).as("cos"))
        .filter(col("cos") >= 0.4)
      time("emb verify join+cos", spark)(ver)
      t1 = System.nanoTime()
      println(s"[probe] emb out pairs=${ver.count()} (${(System.nanoTime()-t1)/1e9} s)")
    }

    if (which("als")) {
      val lineitem = Tables(spark, sfDir, "lineitem")
      val orders = Tables(spark, sfDir, "orders")
      val ratings = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(avg(col("l_quantity")).as("r"))
      time("als: ratings agg", spark)(ratings)
      var t0 = System.nanoTime()
      val (users, items) = graft.ml.Als.fit(ratings, lambda = 0.1, iters = 2)
      println(f"[probe] als fit ${(System.nanoTime()-t0)/1e9}%.3f s")
      t0 = System.nanoTime()
      val pred = graft.ml.Als.predict(ratings, users, items)
      val rmse = pred.agg(sqrt(avg((col("pred") - col("r")) * (col("pred") - col("r")))).as("v"))
      val out = pred.crossJoin(broadcast(rmse)).filter(col("u") < 10)
        .select(col("u"), col("i"), col("r"), col("pred"), col("v"))
        .orderBy("u", "i")
      out.write.format("noop").mode("overwrite").save()
      println(f"[probe] als predict+rmse+out ${(System.nanoTime()-t0)/1e9}%.3f s")
    }

    if (which("reb")) {
      graft.functions.GraftFunctions.register(spark)
      println("stats bytes = " + docs.queryExecution.optimizedPlan.stats.sizeInBytes)
      println("defaultParallelism = " + spark.sparkContext.defaultParallelism)
      val dist = docs.groupBy(spark_partition_id()).count().collect()
      println("scan partition dist: " + dist.mkString(","))
      val reb = graft.ops.TextDedup.rebalanceScan(docs, "doc_id")
      println("rebalance fired: " +
        reb.queryExecution.optimizedPlan.toString.contains("Repartition"))
      def bands(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id").as("id"),
          explode(call_function("graft_minhash_bands",
            lower(trim(col("text"))), lit(3), lit(32), lit(16))).as("bk"))
          .select(col("id"), col("bk.band"), col("bk.key"))
      time("minhash bands (raw scan)", spark)(bands(docs))
      time("minhash bands (raw scan) 2nd", spark)(bands(docs))
      time("minhash bands (rebalanced)", spark)(bands(reb))
      time("minhash bands (rebalanced) 2nd", spark)(bands(reb))
    }

    if (which("q1")) {
      val li = Tables(spark, sfDir, "lineitem")
      // one shared aggregation body for every q1 leg (ADVICE r15)
      def q1(d: org.apache.spark.sql.DataFrame) = d
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).as("sum_disc"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("cnt"))
      time("q1 raw scan", spark)(q1(li))
      time("q1 raw scan 2nd", spark)(q1(li))
      val reb = li.repartition(col("l_orderkey"), col("l_linenumber"))
      time("q1 rebalanced", spark)(q1(reb))
      time("q1 rebalanced 2nd", spark)(q1(reb))
      // narrow projection first, then rebalance only needed cols
      val cols = Seq("l_shipdate","l_returnflag","l_linestatus","l_quantity",
        "l_extendedprice","l_discount").map(col)
      val reb2 = li.select(cols: _*).repartition(col("l_shipdate"))
      time("q1 narrow-rebalanced", spark)(q1(reb2))
      time("q1 narrow-rebalanced 2nd", spark)(q1(reb2))
    }

    if (which("ivf")) {
      graft.functions.GraftFunctions.register(spark)
      val emb = Tables(spark, sfDir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).limit(20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb
        .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      var t0 = System.nanoTime()
      val cents = graft.ops.VectorSim.kmeansCentroids(corpus, col("n_vec"),
        k = 8, iters = 5, native = true)
      println(f"[probe] (native kmeans)")
      println(f"[probe] ivf kmeans (5 iters) ${(System.nanoTime()-t0)/1e9}%.3f s")
      t0 = System.nanoTime()
      val bf = graft.ops.VectorSim.topKBruteForce(queries, corpus, 3,
        native = true).select(col("q_id"), col("n_id"))
      bf.write.format("noop").mode("overwrite").save()
      println(f"[probe] ivf bruteforce ${(System.nanoTime()-t0)/1e9}%.3f s")
      t0 = System.nanoTime()
      val ann = graft.ops.VectorSim.topKAnnIvf(queries, corpus, 3, cents,
        nprobe = 5, native = true)
      ann.write.format("noop").mode("overwrite").save()
      println(f"[probe] ivf topKAnnIvf ${(System.nanoTime()-t0)/1e9}%.3f s")
    }

    if (which("ivfab")) {
      // VERDICT r15 ask #3: isolated A/B of the snapshot-commit native
      // fit kernels (94d16a2) vs the interpreted-HOF path they replaced
      // — kmeansCentroids and pqCodebooks, native=false vs true.
      graft.functions.GraftFunctions.register(spark)
      val emb = Tables(spark, sfDir, "embeddings")
      val corpus = emb
        .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      Seq(false, true).foreach { nat =>
        var t0 = System.nanoTime()
        graft.ops.VectorSim.kmeansCentroids(corpus, col("n_vec"),
          k = 8, iters = 5, native = nat)
        println(f"[probe] ivfab kmeans native=$nat ${(System.nanoTime()-t0)/1e9}%.3f s")
        t0 = System.nanoTime()
        graft.ops.VectorSim.pqCodebooks(corpus, col("n_vec"),
          m = 4, ksub = 8, iters = 3, native = nat)
        println(f"[probe] ivfab pqCodebooks native=$nat ${(System.nanoTime()-t0)/1e9}%.3f s")
        spark.catalog.clearCache(); System.gc()
      }
    }

    if (which("als2")) {
      // A/B the halfStep join strategy: current (SMJ?) vs broadcast
      // factors. Factors are entity-count-sized; decide per plan shape.
      val lineitem = Tables(spark, sfDir, "lineitem")
      val orders = Tables(spark, sfDir, "orders")
      val ratings = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(avg(col("l_quantity")).as("r"))
        .localCheckpoint()
      val items = ratings.select(col("i")).distinct()
        .select(col("i"), lit(1.0).as("q1"),
          (((col("i") % 7) - 3) / lit(10.0)).cast("double").as("q2"))
        .localCheckpoint()
      println(s"[probe] items=${items.count()} ratings=${ratings.count()}")
      def gram(f: org.apache.spark.sql.DataFrame) = ratings.join(f, Seq("i"))
        .groupBy("u")
        .agg(sum(col("q1") * col("q1")).as("a11"),
          sum(col("q1") * col("q2")).as("a12"),
          sum(col("q2") * col("q2")).as("a22"),
          sum(col("q1") * col("r")).as("b1"),
          sum(col("q2") * col("r")).as("b2"))
      val plain = gram(items)
      plain.explain("formatted")
      time("als2 halfstep plain", spark)(plain)
      time("als2 halfstep plain (2nd)", spark)(plain)
      val bcast = gram(broadcast(items))
      bcast.explain("formatted")
      time("als2 halfstep bcast", spark)(bcast)
      time("als2 halfstep bcast (2nd)", spark)(bcast)
    }

    if (which("minhash")) {
      graft.functions.GraftFunctions.register(spark)
      val exploded = docs.select(col("doc_id").as("id"),
        explode(call_function("graft_minhash_bands",
          lower(trim(col("text"))), lit(3), lit(32), lit(16))).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.key"))
        .persist()
      time("native minhash bands", spark)(exploded)
      val cands = exploded.as("a")
        .join(exploded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .distinct().persist()
      time("bucket-mate pairs", spark)(cands)
      println(s"[probe] cand pairs: ${cands.count()}")
      val candIds = cands.select(col("a_id").as("__cand_id"))
        .union(cands.select(col("b_id"))).distinct()
      val sets = graft.ops.TextDedup.shingleSets(
        docs.join(broadcast(candIds), col("doc_id") === col("__cand_id"),
          "left_semi"), "doc_id", "text", 3)
      time("shingle sets (cands)", spark)(sets)
      val verified = cands
        .join(sets.as("sa"), col("a_id") === col("sa.id"))
        .join(sets.as("sb"), col("b_id") === col("sb.id"))
        .select(col("a_id"), col("b_id"),
          graft.ops.TextDedup.jaccard(col("sa.sh"), col("sb.sh")).as("wjac"))
        .filter(col("wjac") >= 0.8)
      time("jaccard verify", spark)(verified)
    }

    if (which("ckstats")) {
      // does a plain localCheckpoint leaf carry usable stats in 4.1,
      // and does the StatsCheckpoint seam give the planner the real
      // size (auto-BHJ without a count job / forced hint)?
      val small = docs.select(col("doc_id")).limit(5000)
      val plain = small.localCheckpoint(true)
      println("[ckstats] plain ck stats = " +
        plain.queryExecution.optimizedPlan.stats.sizeInBytes)
      val st = org.apache.spark.sql.graft.StatsCheckpoint
        .localCheckpointWithStats(small)
      println("[ckstats] stats ck stats = " +
        st.queryExecution.optimizedPlan.stats.sizeInBytes)
      def joinKind(d: org.apache.spark.sql.DataFrame): String = {
        val p = docs.join(d, "doc_id").queryExecution.executedPlan.toString
        if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else if (p.contains("SortMergeJoin")) "SortMergeJoin" else "?"
      }
      println("[ckstats] join vs plain ck: " + joinKind(plain))
      println("[ckstats] join vs stats ck: " + joinKind(st))
      // the ALS half-step shape: a factor table = groupBy over a join.
      // The plain checkpoint inherits the JOIN-INFLATED estimate, so
      // every downstream join of the leaf plans SortMergeJoin; the
      // measured leaf reports its real (tiny) size and auto-broadcasts.
      val li = Tables(spark, sfDir, "lineitem")
      val or = Tables(spark, sfDir, "orders")
      val fac = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"))
        .agg(sum(col("l_quantity")).as("q"))
      val facPlain = fac.localCheckpoint(true)
      val facStats = org.apache.spark.sql.graft.StatsCheckpoint
        .localCheckpointWithStats(fac)
      def joinKind2(d: org.apache.spark.sql.DataFrame): String = {
        val p = or.join(d, col("o_custkey") === col("u"))
          .queryExecution.executedPlan.toString
        if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else if (p.contains("SortMergeJoin")) "SortMergeJoin" else "?"
      }
      println("[ckstats] halfstep-shape plain ck stats = " +
        facPlain.queryExecution.optimizedPlan.stats.sizeInBytes +
        " -> " + joinKind2(facPlain))
      println("[ckstats] halfstep-shape stats ck stats = " +
        facStats.queryExecution.optimizedPlan.stats.sizeInBytes +
        " -> " + joinKind2(facStats))
    }

    if (which("ride")) {
      // does a groupBy(id) over the persisted, id-rebalanced element
      // rows actually skip its exchange (cached-partitioning ride)?
      graft.functions.GraftFunctions.register(spark)
      val rows = graft.ops.TextDedup.rebalanceScan(docs, "doc_id")
        .select(col("doc_id").as("id"),
          explode(call_function("graft_word_shingles",
            col("text"), lit(3), lit(3))).as("tok"))
        .withColumn("h", xxhash64(col("tok"))).persist()
      rows.write.format("noop").mode("overwrite").save()
      val hs = rows.groupBy("id").agg(count(lit(1)).as("n"))
      hs.write.format("noop").mode("overwrite").save()
      println("[ride] hsets executed plan:")
      println(hs.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("InMemory") ||
          l.contains("HashAggregate") || l.contains("AQEShuffleRead"))
        .mkString("\n"))
      rows.unpersist()
    }

    if (which("dedupops")) {
      // the three dedup bench pipelines driven exactly as the queries
      // drive them, metered end-to-end (jobs/stages/tasks/shuffle MB) —
      // the before/after evidence for the r16 exchange-collapse work
      graft.functions.GraftFunctions.register(spark)
      (1 to 2).foreach { run =>
        meter(s"minhashDedupPairs#$run", spark) {
          val p = graft.ops.TextDedup.minhashDedupPairs(docs, "doc_id",
            "text", 3, 32, 16, 0.8, native = true)
          p.write.format("noop").mode("overwrite").save()
          p.unpersist()
        }
        spark.catalog.clearCache(); System.gc()
      }
      def shingleRows = graft.ops.TextDedup
        .rebalanceScan(docs, "doc_id")
        .select(col("doc_id").as("id"),
          explode(call_function("graft_word_shingles",
            col("text"), lit(3), lit(3))).as("tok"))
      (1 to 2).foreach { run =>
        meter(s"jaccardSelfJoinRows#$run", spark) {
          val pr = graft.ops.SetSimJoin.jaccardSelfJoinRows(shingleRows, 0.3)
          pr.df.write.format("noop").mode("overwrite").save()
          pr.release(); pr.df.unpersist()
        }
        spark.catalog.clearCache(); System.gc()
      }
      (1 to 2).foreach { run =>
        meter(s"containmentRowsCkpt#$run", spark) {
          graft.ops.SetSimJoin
            .containmentSelfJoinRowsCheckpointed(shingleRows, 0.4)
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache(); System.gc()
      }
    }

    // `q:<declared-query-name>` meters any registry query end-to-end
    // (noop sink), twice — generic before/after evidence for per-round
    // job-cadence work on iterative ops (VERDICT r16 #6/#8).
    which.filter(_.startsWith("q:")).map(_.stripPrefix("q:")).foreach { nm =>
      SparkEntry.all.filter(_.name == nm).foreach { d =>
        (1 to 2).foreach { run =>
          meter(s"$nm#$run", spark) {
            d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          spark.catalog.clearCache(); System.gc()
        }
      }
    }

    if (which("sssp")) {
      val lineitem = Tables(spark, sfDir, "lineitem")
      val orders = Tables(spark, sfDir, "orders")
      val e0 = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("s"),
          concat(lit("s"), col("l_suppkey")).as("t"))
        .distinct()
      time("e0 distinct (strings)", spark)(e0)
      val e0n = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("s"),
          (col("l_suppkey") * 2 + 1).as("t"))
        .distinct()
      time("e0 distinct (longs)", spark)(e0n)
      val e = e0.select(col("s").as("src"), col("t").as("dst"))
        .union(e0.select(col("t").as("src"), col("s").as("dst")))
      val src = orders.agg(concat(lit("c"), min(col("o_custkey"))).as("node"))
      spark.sparkContext.setJobDescription("bfs strings")
      var t0 = System.nanoTime()
      val dist = graft.ops.Bfs.hops(e, src, maxHops = 4)
      dist.write.format("noop").mode("overwrite").save()
      println(f"[probe] bfs strings total ${(System.nanoTime()-t0)/1e9}%.3f s")
      val en = e0n.select(col("s").as("src"), col("t").as("dst"))
        .union(e0n.select(col("t").as("src"), col("s").as("dst")))
      val srcn = orders.agg((min(col("o_custkey")) * 2).as("node"))
      spark.sparkContext.setJobDescription("bfs longs")
      t0 = System.nanoTime()
      val distn = graft.ops.Bfs.hops(en, srcn, maxHops = 4)
      distn.write.format("noop").mode("overwrite").save()
      println(f"[probe] bfs longs total ${(System.nanoTime()-t0)/1e9}%.3f s")
    }

    spark.stop()
  }
}
