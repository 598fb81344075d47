package graft

import org.apache.spark.sql.SparkSession

/** Dev-only phase timer (not part of the driver contract): times named
  * code blocks inside fixture builds / hot queries while optimizing.
  * Invoke: tools/run_main.sh graft.DevProbe <probe> [args…]
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    time("warmup")(Tables.load(spark, sfDir, "nation").count())

    args.headOption.getOrElse("") match {
      case "grid" =>
        import org.apache.spark.sql.functions._
        time("lineitem load noop")(
          Tables.load(spark, sfDir, "lineitem").write.mode("overwrite").format("noop").save())
        time("lineitem loadSpread noop")(
          Tables.loadSpread(spark, sfDir, "lineitem").write.mode("overwrite").format("noop").save())
        val api = time("apiCandles plan")(ingest.IngestPack.apiCandles(spark, sfDir))
        time("apiCandles noop")(api.write.mode("overwrite").format("noop").save())
        time("apiCandles noop again")(api.write.mode("overwrite").format("noop").save())
        time("apiCandles+ts parse noop")(
          api.withColumn("t2", to_timestamp(col("time"), ingest.Schemas.TsFormat))
            .write.mode("overwrite").format("noop").save())
        val path = "/tmp/devprobe_grid/candles"
        Scratch.wipe("/tmp/devprobe_grid")
        val newRows = ingest.Normalize.projectCandles(api)
          .withColumn("timestamp", to_timestamp(col("timestamp"), ingest.Schemas.TsFormat))
          .where(col("timestamp") >= lit("1995-01-01").cast("timestamp") &&
            col("timestamp") < lit("2002-01-01").cast("timestamp"))
          .withColumn("window", expr(
            "date_add(CAST('1970-01-01' AS DATE), CAST(floor(datediff(timestamp, CAST('1970-01-01' AS DATE)) / 30) AS INT) * 30)"))
        time("newRows noop")(newRows.write.mode("overwrite").format("noop").save())
        val rep = newRows.repartition(col("window"), pmod(hash(col("company_id")), lit(1)))
        time("repartitioned noop")(rep.write.mode("overwrite").format("noop").save())
        time("partitioned write")(
          rep.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window").parquet(path + "2"))
        time("flat write")(
          rep.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path + "3"))
        time("ingestCandles write")(
          ingest.BatchIngest.ingestCandles(api, "1995-01-01", "2002-01-01", path, gridBuckets = 1))
        time("readback agg")(
          spark.read.parquet(path)
            .where(col("window") >= lit("1996-01-01").cast("date"))
            .groupBy("company_id").count()
            .write.mode("overwrite").format("noop").save())
      case "kcore" =>
        import org.apache.spark.sql.functions._
        // replicate Graph.kcore with per-round timing + sizes
        val li = Tables.load(spark, sfDir, "lineitem")
        val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val edges = time("coPartEdges build+cache") {
          val e = op.as("a").hint("shuffle_hash")
            .join(op.as("b").hint("shuffle_hash"),
              col("a.o") === col("b.o") && col("a.p") < col("b.p"))
            .groupBy(col("a.p").as("x"), col("b.p").as("y"))
            .agg(count(lit(1)).as("w"))
            .where(col("w") >= 2).cache()
          println(s"[probe]   n_edges=${e.count()}")
          e
        }
        val e2 = edges.select("x", "y")
        var cur = time("und repartition+cache") {
          val c = e2.unionAll(e2.select(col("y").as("x"), col("x").as("y")))
            .repartition(col("x")).cache()
          println(s"[probe]   und=${c.count()}")
          c
        }
        time("round0 stats")(println(s"[probe]   n0=${cur.select("x").distinct().count()}"))
        for (t <- 1 to 4) {
          time(s"round $t") {
            val surv = cur.groupBy(col("x")).agg(count(lit(1)).as("d"))
              .where(col("d") >= 3).select(col("x").as("node")).cache()
            val next = cur
              .join(surv.select(col("node").as("x")), Seq("x"), "left_semi")
              .join(surv.select(col("node").as("y")), Seq("y"), "left_semi")
              .cache()
            val nNodes = surv.count()
            val nEdges = next.count() / 2
            println(s"[probe]   t=$t nodes=$nNodes edges=$nEdges")
            cur.unpersist(blocking = true)
            surv.unpersist(blocking = true)
            cur = next
          }
        }
        cur.unpersist(blocking = true)
        // rebased variant: identical loop, but each round's handle is
        // re-rooted at the materialized cache (flat logical plan)
        var cur2full = e2.unionAll(e2.select(col("y").as("x"), col("x").as("y")))
          .repartition(col("x")).cache()
        cur2full.count()
        var cur2 = org.apache.spark.sql.graftx.Rebase(cur2full)
        for (t <- 1 to 4) {
          time(s"rebased round $t") {
            val surv = cur2.groupBy(col("x")).agg(count(lit(1)).as("d"))
              .where(col("d") >= 3).select(col("x").as("node")).cache()
            val next = cur2
              .join(surv.select(col("node").as("x")), Seq("x"), "left_semi")
              .join(surv.select(col("node").as("y")), Seq("y"), "left_semi")
              .cache()
            val nNodes = surv.count()
            val nEdges = next.count() / 2
            println(s"[probe]   t=$t nodes=$nNodes edges=$nEdges")
            cur2full.unpersist(blocking = true)
            surv.unpersist(blocking = true)
            cur2full = next
            cur2 = org.apache.spark.sql.graftx.Rebase(next)
          }
        }
        cur2full.unpersist(blocking = true)
      case "spread" =>
        import org.apache.spark.sql.functions._
        def closes(li: org.apache.spark.sql.DataFrame) = li.select(
            concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
            expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
            (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
            col("l_quantity").cast("long").as("volume"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
          .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(max_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("close_c"),
            sum(col("volume")).as("vol"))
        for (r <- 1 to 2) {
          time(s"closes plain $r")(closes(Tables.load(spark, sfDir, "lineitem"))
            .write.mode("overwrite").format("noop").save())
          time(s"closes spread $r")(closes(Tables.loadSpread(spark, sfDir, "lineitem"))
            .write.mode("overwrite").format("noop").save())
        }
        def rv(li: org.apache.spark.sql.DataFrame) = {
          val ticks = li.select(
            concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
            expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
            (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
          ticks.withColumn("g", explode(array(lit(300L), lit(900L), lit(3600L))))
            .withColumn("bucket", expr("unix_micros(CAST(ts AS TIMESTAMP)) div (g * 1000000)"))
            .groupBy(col("company_id"), col("g"), col("bucket"))
            .agg(max_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("close_c"))
        }
        for (r <- 1 to 2) {
          time(s"rv closes plain $r")(rv(Tables.load(spark, sfDir, "lineitem"))
            .write.mode("overwrite").format("noop").save())
          time(s"rv closes spread $r")(rv(Tables.loadSpread(spark, sfDir, "lineitem"))
            .write.mode("overwrite").format("noop").save())
        }
      case "rebase" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val base = (1L to 1000L).map(i => (i % 37, i)).toDF("k", "v")
          .repartition(col("k")).cache()
        base.count()
        def planOf(df: org.apache.spark.sql.DataFrame): String = {
          df.collect()
          df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        }
        println("[probe] plain cache agg plan:\n" +
          planOf(base.groupBy("k").agg(sum("v"))))
        println("[probe] rebased agg plan:\n" +
          planOf(org.apache.spark.sql.graftx.Rebase(base).groupBy("k").agg(sum("v"))))
        println("[probe] base executedPlan class: " +
          base.queryExecution.executedPlan.getClass.getName)
        println("[probe] base executedPlan partitioning: " +
          base.queryExecution.executedPlan.outputPartitioning)
        base.unpersist(blocking = true)
      case "ivf" =>
        val emb = Tables.loadSpread(spark, sfDir, "embeddings")
        val path = "/tmp/devprobe_ivfpq"
        Scratch.wipe(path)
        time("ivfIndex build+write")(
          llm.Similarity.ivfIndex(emb).write.mode("overwrite").parquet(s"$path/centroids"))
        val st = time("pqStateOf plan")(llm.Similarity.pqStateOf(emb))
        time("codebooks train+write")(st._2.write.mode("overwrite").parquet(s"$path/codebooks"))
        st._1.unpersist(); st._2.unpersist()
        time("codes assign+write")(llm.Similarity.appendIvfPqIndex(emb, path, overwrite = true))
        val q = Tables.load(spark, sfDir, "embeddings").where(org.apache.spark.sql.functions.col("vec_id") < 5)
        time("serve 1")(llm.Similarity.annPqTopKIndexed(spark, path, q)
          .write.mode("overwrite").format("noop").save())
        time("serve 2")(llm.Similarity.annPqTopKIndexed(spark, path, q)
          .write.mode("overwrite").format("noop").save())
      case "mp" =>
        import org.apache.spark.sql.functions._
        val MpWin = 4; val MpExcl = 4
        def arrs(li: org.apache.spark.sql.DataFrame) = {
          val ticks = li.select(
            concat(lit("FIGI"), col("l_partkey") % 20).as("tik"),
            expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("tsv"),
            (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
          ticks
            .groupBy(col("tik"), date_trunc("week", col("tsv")).as("week"))
            .agg(max_by(col("cents"), struct(col("tsv"), col("eid"), col("cents"))).as("c"))
            .groupBy("tik")
            .agg(sort_array(collect_list(struct(col("week"), col("c")))).as("sc"))
            .select(col("tik"), expr("transform(sc, x -> x.c)").as("cs"))
            .where(size(col("cs")) >= MpWin + MpExcl)
        }
        def oldPairs(ar: org.apache.spark.sql.DataFrame) = {
          val wins = ar
            .select(col("tik"), expr(s"explode(sequence(1, size(cs) - ${MpWin - 1}))").as("i"), col("cs"))
            .select(col("tik"), col("i"),
              expr(s"slice(cs, i, $MpWin)").as("w"),
              expr(s"aggregate(slice(cs, i, $MpWin), CAST(0 AS BIGINT), (a, x) -> a + x)").as("sw"))
          val a = wins.select(col("tik"), col("i").as("ia"), col("w").as("wa"), col("sw").as("sa"))
          val b = wins.select(col("tik"), col("i").as("ib"), col("w").as("wb"), col("sw").as("sb"))
          a.join(b, Seq("tik"))
            .where(col("ib") >= col("ia") + lit(MpExcl))
            .select(col("tik"), col("ia"), col("ib"),
              expr(s"""aggregate(
                zip_with(wa, wb, (x, y) -> ($MpWin * x - sa) - ($MpWin * y - sb)),
                CAST(0 AS BIGINT), (acc, d) -> acc + d * d)""").as("d2"))
        }
        def newPairs(ar: org.apache.spark.sql.DataFrame) = {
          val wins = ar
            .select(col("tik"), expr(s"explode(sequence(1, size(cs) - ${MpWin - 1}))").as("i"), col("cs"))
            .select(col("tik"), col("i"),
              expr(s"slice(cs, i, $MpWin)").as("w"),
              expr(s"aggregate(slice(cs, i, $MpWin), CAST(0 AS BIGINT), (a, x) -> a + x)").as("sw"))
            .select(col("tik"), col("i"),
              expr(s"transform(w, x -> CAST($MpWin AS BIGINT) * x - sw)").as("cw"))
          val a = wins.select(col("tik"), col("i").as("ia"), col("cw").as("cwa"))
          val b = wins.select(col("tik"), col("i").as("ib"), col("cw").as("cwb"))
          val d2Expr = (1 to MpWin)
            .map(k => s"(element_at(cwa, $k) - element_at(cwb, $k)) * (element_at(cwa, $k) - element_at(cwb, $k))")
            .mkString(" + ")
          a.join(b, Seq("tik"))
            .where(col("ib") >= col("ia") + lit(MpExcl))
            .select(col("tik"), col("ia"), col("ib"), expr(d2Expr).as("d2"))
        }
        for (r <- 1 to 2) {
          time(s"mp old plain $r")(oldPairs(arrs(Tables.load(spark, sfDir, "lineitem")))
            .write.mode("overwrite").format("noop").save())
          time(s"mp old spread $r")(oldPairs(arrs(Tables.loadSpread(spark, sfDir, "lineitem")))
            .write.mode("overwrite").format("noop").save())
          time(s"mp new plain $r")(newPairs(arrs(Tables.load(spark, sfDir, "lineitem")))
            .write.mode("overwrite").format("noop").save())
          time(s"mp new spread $r")(newPairs(arrs(Tables.loadSpread(spark, sfDir, "lineitem")))
            .write.mode("overwrite").format("noop").save())
        }
      case "pp" =>
        import org.apache.spark.sql.functions._
        val inv = llm.Dedup.invIndex(spark, sfDir)
        time("inv build+count")(println(s"[probe]   inv=${inv.count()}"))
        val ranked = inv
          .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
          .withColumn("n_sh", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        val prefix = ranked.where(col("pos") <= expr("n_sh div 2 + 1")).select("doc_id", "shingle")
        time("prefix noop")(prefix.write.mode("overwrite").format("noop").save())
        val cands = prefix.as("a").hint("shuffle_hash")
          .join(prefix.as("b").hint("shuffle_hash"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        time("cands count")(println(s"[probe]   cands=${cands.count()}"))
        val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val shared = cands
          .join(inv.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
          .join(inv.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
        time("shared count")(println(s"[probe]   shared=${shared.count()}"))
        time("ppjoin full")(SparkEntry.queries("dedup_ppjoin")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
        time("ppjoin full again")(SparkEntry.queries("dedup_ppjoin")(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
      case "cf" =>
        // per-stage rows + cumulative job seconds for the recommender
        analytics.Mining.cfStageRows(spark, sfDir).foreach { case (n, r, sec) =>
          println(f"[probe] cf stage $n%-16s rows=$r%9d  $sec%6.2f s")
        }
        time("cf_item_recs full")(
          SparkEntry.queries("cf_item_recs")(spark, sfDir)
            .write.mode("overwrite").format("noop").save())
        time("cf_item_recs full again")(
          SparkEntry.queries("cf_item_recs")(spark, sfDir)
            .write.mode("overwrite").format("noop").save())
      case other =>
        println(s"unknown probe '$other'")
    }
    spark.stop()
  }
}
