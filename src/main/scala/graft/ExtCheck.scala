package graft

/** End-to-end SparkSessionExtensions check, in its own JVM: the
  * in-suite test can only exercise [[graft.functions.GraftExtensions]]
  * against a bare `SparkSessionExtensions` instance because
  * `getOrCreate` reuses the shared test session. This main builds a
  * FRESH session with `spark.sql.extensions=graft.functions
  * .GraftExtensions` — the way a user of this library installs it —
  * and asserts (a) every injected `graft_*` function resolves from
  * SQL, and (b) the FoldSelfCosine optimizer rule fires inside the
  * session's own optimizer (self-cosine of a provably non-null input
  * folds to a literal in the optimized plan). Exit code is the
  * verdict. Run: `sbt "runMain graft.ExtCheck"`. */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(2, "spark.app.name" -> "graft-ext-check",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // (a) injected functions resolve and compute from plain SQL
      val row = spark.sql(
        """SELECT
          |  graft_cosine(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c,
          |  graft_l2sq(array(CAST(0.0 AS DOUBLE), CAST(3.0 AS DOUBLE)),
          |             array(CAST(4.0 AS DOUBLE), CAST(3.0 AS DOUBLE))) AS d,
          |  graft_simhash16(array('a', 'b')) IS NOT NULL AS sh,
          |  graft_minhash16(array('a', 'b')) IS NOT NULL AS mh
          |""".stripMargin).head()
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12, s"cosine: $row")
      assert(math.abs(row.getDouble(1) - 16.0) < 1e-12, s"l2sq: $row")
      assert(row.getBoolean(2) && row.getBoolean(3), s"sketches: $row")
      // (b) the injected optimizer rule folds self-cosine of a
      // non-nullable input to a literal IN THIS SESSION'S optimizer
      val plan = spark.sql(
        """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                    array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c
          |""".stripMargin).queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_cosine"),
        s"FoldSelfCosine did not fire in the extension-built session:\n$plan")
      // (c) the opt-in IVF top-k pushdown, end-to-end in this
      // extension-built session: register an index, flag the rewrite
      // on, and run the brute-force SQL shape — the optimized plan
      // must scan the cid-partitioned assignment table (pruned), the
      // result must cover <= NProbe cells, and recall@10 vs the
      // un-rewritten exact answer must hold.
      import org.apache.spark.sql.functions.col
      // sf0.001: the corpus where the q39 probed path holds
      // recall@10 = 0.9 (at larger sf the 3-of-k cell probe keeps a
      // lower floor — same trade, different constant; OperatorsSpec
      // asserts the 0.7 floor there)
      val sfDir = "/root/testdata/sf0.001"
      val idx = graft.plans.IvfTopK.registerIndex(spark, sfDir)
      val q0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val litSql = q0.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
      def topkSqlAt(limit: Int) =
        s"""SELECT vec_id, graft_cosine(embedding, $litSql) AS cos
           |FROM parquet.`$sfDir/embeddings.parquet`
           |WHERE vec_id <> 0
           |ORDER BY cos DESC LIMIT $limit""".stripMargin
      val topkSql = topkSqlAt(10)
      // the assignment relation is recognizable by its cid partition
      // column (the original embeddings table has none; the optimized
      // plan's Relation line truncates file paths)
      val exact = spark.sql(topkSql)
      assert(!exact.queryExecution.optimizedPlan.toString.contains("cid#"),
        "rewrite fired without the opt-in flag")
      val exactIds = exact.collect().map(_.getLong(0)).toSet
      spark.conf.set("spark.graft.ivfTopK", "true")
      val probed = spark.sql(topkSql)
      val pplan = probed.queryExecution.optimizedPlan.toString
      assert(pplan.contains("cid#") && pplan.contains(" IN ("),
        s"IvfTopKRewrite did not fire under the flag:\n${pplan.take(1500)}")
      val annIds = probed.collect().map(_.getLong(0)).toSet
      spark.conf.set("spark.graft.ivfTopK", "false")
      val cellsHit = graft.plans.Snapshots.read(spark, idx.assignPath, 1)
        .where(col("vec_id").isin(annIds.toSeq.map(Long.box): _*))
        .select(col("cid")).distinct().count()
      assert(cellsHit <= graft.operators.Similarity.NProbe,
        s"rewritten result spans $cellsHit cells > NProbe")
      val recall = (annIds & exactIds).size.toDouble / exactIds.size
      assert(recall >= 0.9, s"IVF pushdown recall@10 $recall < 0.9")
      // (d) INCREMENTAL APPEND: new vectors join the index with no
      // retrain and no corpus rescan — twins of existing vectors (same
      // embedding, fresh id) must land in the same cell as their
      // originals, and the rewrite's probed scan must RETURN them
      // (i.e. the appended cid partitions are actually read).
      val IdOff = 1000000L
      val twins = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .where(col("vec_id").isin(exactIds.toSeq.take(3).map(Long.box): _*))
        .withColumn("vec_id", col("vec_id") + IdOff)
      val indexDir = new org.apache.hadoop.fs.Path(idx.assignPath).getParent.toString
      val v = graft.plans.IvfTopK.appendCommit(spark, indexDir, twins)
      assert(v == 2, s"append committed v$v, want v2")
      val assign = graft.plans.Snapshots.read(spark, idx.assignPath, v)
      assert(assign.where(col("vec_id") >= IdOff).count() == 3,
        "append did not commit exactly the three twins")
      for (origId <- exactIds.toSeq.take(3)) {
        val cids = assign
          .where(col("vec_id").isin(Long.box(origId), Long.box(origId + IdOff)))
          .select(col("cid")).distinct().collect().map(_.getAs[Number](0))
        assert(cids.length == 1,
          s"appended twin of $origId landed in a different cell: ${cids.toSeq}")
      }
      spark.conf.set("spark.graft.ivfTopK", "true")
      // LIMIT 13 > the exact top-10: with three identical twins
      // appended, a probed scan that serves the appended partitions
      // must surface at least one twin id in the widened top-k
      val twinHits = spark.sql(topkSqlAt(13))
        .collect().map(_.getLong(0)).filter(_ >= IdOff)
      spark.conf.set("spark.graft.ivfTopK", "false")
      assert(twinHits.nonEmpty,
        "probed scan returned no appended vectors — append partitions unread")
      println("ExtCheck OK: functions resolve, FoldSelfCosine fires, " +
        f"IVF top-k pushdown prunes to <= NProbe cells at recall@10 = $recall%.2f, " +
        s"append serves ${twinHits.length} new vectors through the probed scan")
    } finally spark.stop()
  }
}
