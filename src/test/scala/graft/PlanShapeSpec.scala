package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the properties that make these
  * operators survive a 100× scale-up — filters reaching the parquet
  * scan, unused columns pruned, dims broadcast instead of
  * sort-merge-shuffled, candidate generation via equi-joins instead
  * of cartesian products — asserted on the PHYSICAL plan, so a
  * refactor that silently de-optimizes a plan fails here rather
  * than in the next scale probe. */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def phys(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val p = phys("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed:\n$p")
    // untouched columns must not appear in the read schema
    assert(!p.contains("l_returnflag"), "column pruning lost l_returnflag")
  }

  test("q01: aggregation shuffles once (partial agg map-side)") {
    val p = phys("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"expected exactly one hash shuffle, got $hashExchanges:\n$p")
  }

  test("q03: dims broadcast, no sort-merge join, no cartesian") {
    val p = phys("q03_join_agg_topn")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the customer predicate pushed below the join
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter not pushed into the customer scan")
  }

  test("q05: the multi-join chain stays fully broadcast") {
    val p = phys("q05_multi_join")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dd_minhash_pairs: candidates come from band-bucket equi-joins") {
    val p = phys("dd_minhash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate join degenerated to an all-pairs product:\n$p")
  }

  test("ann_lsh_topk and ann_ivf_topk bucket instead of cross-joining") {
    Seq("ann_lsh_topk", "ann_ivf_topk").foreach { k =>
      val p = phys(k)
      assert(!p.contains("CartesianProduct"),
        s"$k plans a shuffled cartesian product:\n$p")
    }
  }

  /** Centroid assignment is a per-row kernel over the broadcast
    * codebook: no per-vector shuffle, no sort-based argmax. */
  private def assertNoPerVectorAggregate(what: String, p: String): Unit = {
    assert(!p.contains("SortAggregate"), s"$what plans a SortAggregate:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"), s"$what shuffles by vec_id:\n$p")
  }

  test("ann_ivf_topk assigns and probes without a per-vector shuffle") {
    assertNoPerVectorAggregate("ann_ivf_topk", phys("ann_ivf_topk"))
  }

  test("ann_pq_topk builds its codebook with the one codebook kernel") {
    val p = phys("ann_pq_topk")
    assert(!p.contains("avg("), s"ann_pq_topk aggregates per-dimension avg columns:\n$p")
    assert(p.contains("centroid_codebook("), s"ann_pq_topk lost its codebook kernel:\n$p")
  }

  test("dd_substring: window-key equi-joins only, never a text product") {
    val p = phys("dd_substring")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup degenerated to an all-pairs product:\n$p")
    // only the two needed columns reach the scan
    assert(p.contains("ReadSchema") && !p.contains("source"),
      "column pruning lost: 'source' column read but unused")
  }

  test("dd_semantic: centroids broadcast, pairs confined to cluster equi-join") {
    // dd_semantic localCheckpoints the assignment, so the FINAL plan
    // reads Scan ExistingRDD — the broadcast lives in the eagerly
    // executed assignment sub-plan. Assert the shape there, and keep
    // the no-cartesian guard on the final (pair-join) plan.
    val a = graft.ops.Similarity.ddSemanticAssignment(spark, sf)
      .queryExecution.executedPlan.toString
    assert(a.contains("BroadcastHashJoin") || a.contains("BroadcastExchange"),
      s"centroid table is not broadcast in the assignment sub-plan:\n$a")
    assertNoPerVectorAggregate("dd_semantic's assignment", a)
    val p = phys("dd_semantic")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairing planned as a cartesian product:\n$p")
  }

  test("ev_kmv_uniques: sketch aggregates partially (map-side combine)") {
    val p = phys("ev_kmv_uniques")
    // the typed Aggregator must run as a two-phase ObjectHashAggregate
    // (or sort-based fallback) — a single-phase plan would shuffle raw
    // events per day instead of 512-byte sketches
    val partial = "partial".r.findAllIn(p.toLowerCase).length
    assert(partial >= 1, s"no partial aggregation phase in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ta_bm25: no explode, corpus stats broadcast, scan reads 2 cols") {
    val p = phys("ta_bm25")
    // tf comes from size(filter(...)) inside the projection — an
    // Explode/Generate node would mean document-sized rows shuffle
    assert(!p.contains("Generate"), s"bm25 tf path explodes:\n$p")
    // the one-row stats side joins broadcast, never shuffled
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"stats row not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // only doc_id + text leave the parquet scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"bm25 reads more than doc_id/text:\n$p")
  }

  test("ev_cms_heavy: sketch builds via partial agg, probes broadcast") {
    val p = phys("ev_cms_heavy")
    // the (row, cell) count must partial-aggregate map-side: each
    // partition collapses to <= 16k cells before the shuffle
    assert("partial".r.findAllIn(p.toLowerCase).nonEmpty,
      s"no partial aggregation phase in:\n$p")
    // estimates probe the tiny sketch as a broadcast join
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dd_bloom_incr: history probes through a broadcast filter, no corpus join") {
    val p = phys("dd_bloom_incr")
    // the membership probe must be a broadcast hash join against the
    // bounded position table — a sort-merge join here means the new
    // docs shuffled against corpus history, the thing Bloom exists
    // to avoid
    assert(p.contains("BroadcastHashJoin"), s"bit table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ev_interval_join: bucket equi-join, never a range nested-loop") {
    val p = phys("ev_interval_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join must rewrite to a bucket equi-join:\n$p")
  }

  test("ann_sq_topk: range table broadcast, scan stays a projection") {
    val p = phys("ann_sq_topk")
    assert(!p.contains("CartesianProduct"), s"SQ scan went cartesian:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"per-dimension ranges / queries should broadcast:\n$p")
  }

  test("dd_paragraph: keep-first argmin partial-aggregates on the para key") {
    val p = phys("dd_paragraph")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_min"),
      s"keep-first min-struct must map-side combine:\n$p")
  }

  test("dd_containment: rare-token candidates equi-join, never all-pairs") {
    val p = phys("dd_containment")
    assert(!p.contains("CartesianProduct"),
      s"containment join went cartesian:\n$p")
  }

  test("ta_dsir_weight: ratio table broadcasts as one row, stats partial-agg") {
    val p = phys("ta_dsir_weight")
    assert(!p.contains("CartesianProduct"), s"DSIR scan went cartesian:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"dense ratio row must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"bucket counting must map-side combine:\n$p")
  }

  test("ev_sessionize: one shuffle on user_id feeds every window stage") {
    val p = phys("ev_sessionize")
    val userShuffles =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userShuffles === 1,
      s"expected one user_id shuffle reused across windows, got $userShuffles")
  }

  test("q24: hot keys broadcast-split and salt-fanned, no cartesian") {
    val p = phys("q24_salted_join")
    assert(p.contains("BroadcastHashJoin"),
      s"hot-key semi/anti split is not broadcast:\n$p")
    assert(p.contains("Generate explode"),
      s"the salt fan-out on the hot build side vanished:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("spread: wide sources pass through, narrow ones fan out") {
    val li = Tables.lineitem(spark, sf)
    val wide = java.nio.file.Files
      .createTempDirectory("planshape-wide").toString + "/w"
    li.repartition(8).write.parquet(wide)
    val w = spark.read.parquet(wide)
    // referential no-op: at cluster scale a many-split source gains
    // NO repartition node (and no eager RDD materialization probes it)
    assert(Tables.spread(spark, w) eq w)
    // a single small local file genuinely fans out
    val narrow = Tables.spread(spark, li)
    assert(narrow ne li)
    assert(narrow.queryExecution.executedPlan.toString
      .contains("RoundRobinPartitioning"),
      "single-file source did not repartition")
  }

  test("V2 partitioned INSERT plans at most one write shuffle") {
    val wh = java.nio.file.Files
      .createTempDirectory("planshape-wh").toString
    spark.conf.set("spark.sql.catalog.ps_wh", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ps_wh.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ps_wh.p")
    spark.sql(
      """CREATE TABLE ps_wh.p.ev (event_id BIGINT, ts TIMESTAMP, v DOUBLE)
         PARTITIONED BY (days(ts), bucket(8, event_id))""")
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value").as("v"))
      .createOrReplaceTempView("ps_src")
    val qe = spark.sql("INSERT INTO ps_wh.p.ev SELECT * FROM ps_src")
      .queryExecution
    val p = qe.executedPlan.toString
    // AQE prints the initial plan too — count executed shuffle stages
    val ex = "ShuffleQueryStage".r.findAllIn(p).length
    assert(ex === 1, s"partitioned V2 write shuffled $ex times:\n$p")
    assert(p.contains("AppendData"), s"not a V2 append plan:\n$p")
    assert(spark.sql("SELECT count(*) FROM ps_wh.p.ev")
      .collect()(0).getLong(0) > 0)
  }

  test("format(graft): stat filters prune inside the V2 scan") {
    val d = sf
    val li = Tables.lineitem(spark, d)
    val root = java.nio.file.Files
      .createTempDirectory("graft-planshape").toString + "/t"
    val t = graft.table.GraftTable.create(spark, root, li.schema)
    t.append(li.repartitionByRange(4, col("l_orderkey")))
    val df = spark.read.format("graft").load(root)
      .filter(col("l_orderkey") > 100L).select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftScan") && p.contains("stat filters"),
      s"graft V2 scan missing from plan:\n$p")
    assert(p.contains("prunedBy=1 stat filters"),
      s"l_orderkey predicate did not reach the graft scan:\n$p")
  }

  test("nested leaf select is PRUNED and id-resolved on driver-path " +
      "scans (both dialects)") {
    val spark0 = spark
    import spark0.implicits._
    // wide struct: pruning matters — reading it whole would drag the
    // payload leaf through the scan
    val df = Seq((1L, (7L, "x", "payload-a")), (2L, (8L, "y", "payload-b")))
      .toDF("k", "meta")
    def leafPlan(scan: org.apache.spark.sql.DataFrame): String =
      scan.select(col("k"), col("info._1").as("a"))
        .queryExecution.executedPlan.toString
    // graft dialect
    val root = java.nio.file.Files
      .createTempDirectory("graft-prune").toString + "/t"
    val t = graft.table.GraftTable.create(spark, root, df.schema)
    t.append(df)
    t.renameColumn("meta", "info") // files keep the OLD top-level name
    val pG = leafPlan(graft.table.GraftTable.load(spark, root).scan())
    assert(pG.contains("ReadSchema"), s"no scan in:\n$pG")
    assert(!pG.contains("_3"),
      s"nested pruning lost: the untouched payload leaf _3 is read:\n$pG")
    assert(graft.table.GraftTable.load(spark, root).scan()
      .select(col("k"), col("info._1").as("a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 7L), (2L, 8L)),
      "pruned id-resolved leaf must still bind by field id")
    // interop dialect
    import graft.table.iceberg.{IcebergTable, IcebergWrite}
    val loc = java.nio.file.Files
      .createTempDirectory("graft-prune-ice").toString + "/t"
    IcebergWrite.create(spark, loc, df)
    IcebergWrite.renameColumn(loc, "meta", "info")
    val pI = leafPlan(IcebergTable.load(spark, loc).scan())
    assert(!pI.contains("_3"),
      s"nested pruning lost on the interop scan:\n$pI")
    assert(IcebergTable.load(spark, loc).scan()
      .select(col("k"), col("info._1").as("a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 7L), (2L, 8L)))
  }

  test("view reads inline fully: outer filters push into the base " +
      "table's V2 scan, no opaque view boundary") {
    val wh = java.nio.file.Files
      .createTempDirectory("planshape-view").toString
    val cat = s"psv_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, grp STRING, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1,'a',1.0), (2,'b',2.0)")
    spark.sql(s"CREATE VIEW $cat.db.v AS SELECT k, grp, v FROM $cat.db.t")
    // a filter applied OUTSIDE the view must reach the scan: the
    // inlined plan is fully declarative, so Catalyst pushes the
    // predicate through the former view boundary into the graft V2
    // scan, where it becomes a stat filter pruning manifests
    val df = spark.sql(s"SELECT k FROM $cat.db.v WHERE k = 2")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftScan"), s"no graft V2 scan under the view:\n$p")
    assert(p.contains("prunedBy=") && !p.contains("prunedBy=0 stat"),
      s"outer filter did not reach the scan as a stat filter:\n$p")
    // and the read schema pruned to the selected column
    assert(!p.contains("grp"), s"column pruning lost through the view:\n$p")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
  }
}
