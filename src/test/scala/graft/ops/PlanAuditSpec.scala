package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Physical-plan audits (SURVEY.md §4.3): the scale posture is a plan
  * property, not a hope — these tests fail if a change reintroduces a
  * nested-loop join, loses parquet pushdown/pruning, or globally sorts
  * where a top-k should stream. */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def scanInfo(df: DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().mkString("\n")

  test("revenue filter: all predicates pushed to the parquet scan") {
    val df = Relational.revenueFilter(spark, sfDir)
    val pushed = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"missing pushed filter $f in: $pushed")
    }
  }

  test("revenue filter: column pruning — scan reads only needed columns") {
    val df = Relational.revenueFilter(spark, sfDir)
    val schemaLine = df.queryExecution.sparkPlan.toString
    // 4 of 11 lineitem columns
    assert(schemaLine.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("top-k queries use TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topOrders(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("fact-dim joins broadcast the dimension side") {
    val p = plan(Joins.brandRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("no broadcast hint on a subtree that scales with sf (hint = mandate = OOM at 100x)") {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // tables whose row count grows linearly with scale factor: a
    // mandated broadcast over a raw scan of any of these OOMs at 100x
    val scaling = Seq("customer.parquet", "supplier.parquet", "part.parquet",
      "orders.parquet", "lineitem.parquet", "events.parquet",
      "documents.parquet", "embeddings.parquet")
    // a hinted subtree is acceptable if it aggregates, limits, or
    // point-filters (pk = literal) before broadcasting — its size does
    // not grow with the fact tables even at 100x
    def bounded(p: LogicalPlan): Boolean = {
      val shrinks = p.collectFirst {
        case _: Aggregate => true
        case _: Deduplicate => true // distinct = group-by-all-columns
        case _: GlobalLimit => true
        case f: Filter if f.condition.exists {
          // pk = literal point lookup (the literal may sit under a Cast)
          case EqualTo(a, b) if a.foldable || b.foldable => true
          case _ => false
        } => true
      }.getOrElse(false)
      val scalingScan = p.collectFirst {
        case r: LogicalRelation if r.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
          r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(rp => scaling.exists(rp.toString.contains)) => true
      }.getOrElse(false)
      shrinks || !scalingScan
    }
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val analyzed = fn(spark, sfDir).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.nonEmpty =>
          assert(bounded(h.child),
            s"$name: broadcast hint over an unbounded (sf-scaling) subtree:\n${h.child}")
        case _ =>
      }
    }
  }

  test("no nested-loop / cartesian joins in the candidate-pair pipelines") {
    Seq(
      "lsh" -> Dedup.lshNearDupPairs(spark, sfDir),
      "grid" -> Similarity.gridNearDupPairs(spark, sfDir),
      "hyperplane" -> Similarity.hyperplaneLshPairs(spark, sfDir),
      "simhash_near_dup" -> Dedup.simhashNearDup(spark, sfDir),
      "pairs60s" -> EventOps.eventPairs60s(spark, sfDir),
      "session_overlap" -> Behavior.sessionOverlap(spark, sfDir),
      "decontaminate" -> Dedup.decontaminate(spark, sfDir)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name uses nested loop join")
      assert(!p.contains("CartesianProduct"), s"$name uses cartesian product")
    }
  }

  test("knn brute force is a single-pass scan + TakeOrdered (no shuffle of the corpus)") {
    val p = plan(Similarity.knnBruteForce(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("IVF-PQ probe scans only probed code partitions (dynamic pruning on centroid_id)") {
    val df = Pq.ivfPqTopK(spark, sfDir)
    // the codes scan must carry a partition filter fed by the probed-
    // list subquery — without it a probe reads ALL inverted lists and
    // the IVF layer buys nothing at 10^9 vectors. sparkPlan (pre-AQE)
    // exposes the FileSourceScanExec directly; AQE only narrows
    // further at runtime.
    val codeScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("ivfpq_codes")) => s
    }
    assert(codeScans.nonEmpty, "no parquet scan of the stored code table found")
    codeScans.foreach { s =>
      val pf = s.partitionFilters.mkString(", ")
      assert(pf.contains("dynamicpruning"),
        s"codes scan lacks a dynamic partition-pruning filter on centroid_id: [$pf]")
    }
  }

  test("catalog range query plans a local relation of the one source's rows") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.FileSourceScanExec
    val layout = graft.lake.Layout(tmpDir("planlake"))
    val entries = Seq(
      graft.lake.CatalogEntry("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "t", "k1"),
      graft.lake.CatalogEntry("b", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "t", "k2")).toDS()
    graft.lake.Catalog.append(spark, layout, entries)
    val q = graft.lake.Catalog.rangeQuery(spark, layout, "a",
      java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
    // the source is selected while planning, on the driver: the plan's
    // one leaf holds only that source's rows, and nothing scans a file
    val leaves = q.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1, leaves.mkString("\n"))
    val local = leaves.head match {
      case l: LocalRelation => l
      case other => fail(s"not a local relation: $other")
    }
    assert(local.data.map(_.getUTF8String(3).toString) == Seq("a"))
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.isEmpty, scanInfo(q))
    assert(q.select("key").as[String].collect().toSeq == Seq("k1"))
  }

  test("distribution subscribe prunes to the subscribed source's partition") {
    // subscribeSnapshot plans from the manifest log's live file set,
    // keeping only the subscribed source's files — this pins it so a
    // layout refactor can't silently regress to full-root scans
    import org.apache.spark.sql.functions.{col, when}
    val layout = graft.lake.Layout(tmpDir("sublake"))
    val batch = spark.range(6).select(
      (col("id") % 2 === 0).cast("string").as("source"),
      col("id").cast("string").as("payload"))
      .withColumn("source", when(col("source") === "true", "clicks").otherwise("tweets"))
    graft.lake.Catalog.commitDist(spark, layout, batch)
    assert(graft.lake.Catalog.distLiveFiles(spark, layout).exists(_.startsWith("source=tweets/")))
    val q = graft.lake.Distribution.subscribeSnapshot(spark, layout, "clicks")
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("/distribution/source=clicks/")), files)
    assert(q.count() == 3)
  }

  test("AQE broadcasts the unhinted filtered-customer side at runtime") {
    // the round-1 plans FORCED broadcast(customer) — a mandate that
    // OOMs at 100× scale. The hint is gone; this pins that AQE still
    // picks a broadcast join at runtime when the filtered side is
    // small, so removing the hint cost nothing at bench scale while
    // letting big scales degrade to shuffle joins instead of dying.
    val df = Relational.joinAggTopK(spark, sfDir)
    df.collect() // AQE finalizes plans during execution
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(200))
    assert(finalPlan.contains("BroadcastHashJoin"),
      "expected AQE to convert the small filtered join side to broadcast")
  }

  test("whole-stage codegen covers the hot aggregation path") {
    val df = Relational.pricingSummary(spark, sfDir)
    val codegen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(codegen.contains("WholeStageCodegen"), "no codegen spans found")
  }

  test("native cosine expression participates in codegen (no CodegenFallback)") {
    val df = Similarity.knnBruteForce(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan with codegen subtrees
    val codegen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    // the generated code contains our fused loop accumulators
    assert(codegen.contains("getFloat"), "cosine loop not codegen'd")
  }

  test("chunkWindows prunes the documents scan to the columns it reads") {
    val df = Pipeline.chunkWindows(spark, sfDir)
    val schemaLine = df.queryExecution.sparkPlan.toString
    // source + doc_id + text, never lang/n_chars
    assert(schemaLine.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      schemaLine.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("seqPack: heavy window shards per (source, bucket) — never one task per source") {
    val df = Pipeline.seqPack(spark, sfDir, shards = 8)
    val p = plan(df)
    // the data-sized prefix-sum window must partition by (source, __bucket);
    // a window keyed on source alone funnels each source through ONE task
    assert("windowspecdefinition\\(source#\\d+, __bucket".r.findFirstIn(p).isDefined,
      s"prefix-sum window not sharded by __bucket:\n$p")
    // and the shards are real: >= 8 distinct (source, bucket) groups feed it
    val groups = Pipeline.packBuckets(spark, sfDir, 8)
      .select("source", "__bucket").distinct().count()
    assert(groups >= 8, s"expected >= 8 shard groups, got $groups")
  }

  test("seqPack: sharded two-level prefix sum equals the plain per-source window") {
    val sharded = Pipeline.seqPack(spark, sfDir, shards = 8).collect()
    val plain = Pipeline.seqPack(spark, sfDir, shards = 1).collect()
    assert(sharded.toSeq == plain.toSeq)
  }

  test("seqPackSplit: sharded offsets, generator fan-out, sharded ≡ plain") {
    val df = Pipeline.seqPackSplit(spark, sfDir, shards = 8)
    val p = plan(df)
    // same sharded prefix-sum contract as seqPack
    assert("windowspecdefinition\\(source#\\d+, __bucket".r.findFirstIn(p).isDefined,
      s"prefix-sum window not sharded by __bucket:\n$p")
    // fragments come from a generator, not a join
    assert(p.contains("Generate explode"), s"fragment fan-out must be an explode:\n$p")
    assert(Pipeline.seqPackSplit(spark, sfDir, shards = 8).collect().toSeq ==
      Pipeline.seqPackSplit(spark, sfDir, shards = 1).collect().toSeq)
  }

  test("exactSample: model-sized histogram broadcasts; only windows over hist/boundary") {
    // truncation (lineage checkpoint of the hashed-doc and tagged
    // tables) collapses the audited subtrees to RDD scans in the
    // executed plan — audit the pre-truncate shape, which is what
    // actually executes inside the checkpoint's materialization
    spark.conf.set("spark.graft.truncate.enabled", "false")
    val df = try Selection.exactSample(spark, sfDir)
    finally spark.conf.unset("spark.graft.truncate.enabled")
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the (source, bucket) count table and the quota table broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"histogram + quota lookups must broadcast:\n$p")
    // anchored assertions (AQE stages hide subtrees from collect):
    // the cum window is the one partitioned by source, ORDERED BY the
    // bucket column b — and the (source, b) histogram aggregate it
    // scans must exist in the plan; a regression that windows over raw
    // documents loses the (source, b)-keyed aggregate
    assert("windowspecdefinition\\(source#\\d+, b#\\d+L? ASC".r.findFirstIn(p).isDefined,
      s"expected the cum-over-buckets window (partition source, order b):\n$p")
    assert("HashAggregate\\(keys=\\[source#\\d+, b#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"expected the (source, b) histogram aggregate feeding the cum window:\n$p")
  }

  test("saltedEventStats keeps both phases map-side combinable (4 HashAggregates)") {
    val p = plan(Skew.saltedEventStats(spark, sfDir))
    val aggs = "HashAggregate".r.findAllIn(p).length
    // partial+final per phase; 2 shuffles total is the salted contract
    assert(aggs == 4, s"expected 4 HashAggregate nodes, got $aggs in:\n$p")
  }

  test("gapFill shares one user_id partitioning across agg, grid, join, and fill window") {
    val df = EventOps.gapFill(spark, sfDir)
    df.collect()
    val p = plan(df)
    // AQE plan string repeats the pre-adaptive plan; audit the final only
    val pf = p.split("== Initial Plan ==")(0)
    // the declared repartition(user_id) lands once per scan branch
    // (grid + per-minute agg — Catalyst collapses the grid's min()
    // through the shared subtree, so the branches scan separately);
    // the minute agg clusters by (user_id, m) as a superset with no
    // re-shuffle, and the join output feeds the fill window directly
    val hash = "Exchange hashpartitioning".r.findAllIn(pf).length
    assert(hash <= 2, s"expected <=2 hash exchanges, got $hash in:\n$pf")
    // no exchange may sit between the join and the window: the fill
    // reuses the grid side's user_id partitioning
    val afterJoin = pf.split("Window \\[")(1)
    assert(!afterJoin.split("Join")(0).contains("Exchange"),
      "window must reuse the join output partitioning")
  }

  test("rollingRangeRevenue: one custkey shuffle feeding a specified-frame window") {
    val p = plan(Windows.rollingRangeRevenue(spark, sfDir))
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash in:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      s"window must run a RANGE frame, not ROWS:\n$p")
  }

  test("mergeUpsert: FULL OUTER must sort-merge — a broadcast would drop unmatched rows") {
    val p = plan(Joins.mergeUpsert(spark, sfDir))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastHashJoin"), s"no side of a full outer may broadcast:\n$p")
  }

  test("cmsHeavyHitters: generator explode + partial aggs, no nested-loop probe") {
    val df = Sketch.cmsHeavyHitters(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Generate explode"), s"sketch cells must come from one generator pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must equi-join the cell table:\n$p")
  }

  test("sparseCosinePairs: candidate + dot joins are all equi-joins (1-row count is the only BNLJ)") {
    val df = Dedup.sparseCosinePairs(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the only nested-loop joins allowed are the broadcast of the
    // SINGLE-ROW corpus count, replicated once per recomputed weight
    // branch (wa, wb, two norm sides) — constant-size builds, never a
    // data-sized side; every data join must be an equi hash/merge join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 8, s"unexpected nested-loop fan-out:\n$p")
    assert("BroadcastHashJoin|SortMergeJoin".r.findAllIn(p).nonEmpty)
  }

  test("argmaxOrder: top-1 per group is ONE partial agg, no Window, no full sort") {
    val p = plan(Relational.argmaxOrder(spark, sfDir))
    assert(!p.contains("Window"), s"argmax must not rank with a window:\n$p")
    assert("partial_max".r.findAllIn(p).nonEmpty,
      s"map-side partial max must combine before the shuffle:\n$p")
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 shuffle, got $hash in:\n$p")
  }

  test("rateLimit: one ranking shuffle + one day agg, partial-combined") {
    val p = plan(EventOps.rateLimit(spark, sfDir))
    // admission ranks on hash(user_id, day) — the key a quota system
    // shards by; the day rollup adds two more exchanges (the standard
    // two-phase distinct-agg shape for n_users_throttled), all
    // map-side combined
    assert("hashpartitioning\\(user_id#\\d+L?, day".r.findFirstIn(p).isDefined,
      s"ranking window must partition by (user_id, day):\n$p")
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash <= 3, s"expected <=3 hash exchanges, got $hash in:\n$p")
    assert("merge_count|merge_sum".r.findFirstIn(p).isDefined,
      s"day rollup must combine map-side before its shuffle:\n$p")
  }

  test("oovRate: vocab membership is a broadcast join — the corpus never shuffles for it") {
    val p = plan(Text.oovRate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"model-sized vocab must broadcast:\n$p")
  }

  test("timeToConvert: window and rollup share ONE user_id shuffle") {
    val p = plan(Behavior.timeToConvert(spark, sfDir))
    // the running-min window partitions by user_id; the per-user agg is
    // co-partitioned, so only the window's exchange (plus the final
    // presentation sort) may appear
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash in:\n$p")
  }

  test("scd2Intervals: the user sample filter prunes before the window shuffles") {
    val p = plan(EventOps.scd2Intervals(spark, sfDir))
    // filter on the partition key must sit below every Window (pushed
    // through), i.e. in the subtree printed after the last Window node
    val belowWindows = p.substring(p.lastIndexOf("Window"))
    assert(belowWindows.contains("% 50") || belowWindows.contains("Filter"),
      s"user_id%50 filter must push below the windows:\n$p")
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash <= 3, s"expected <=3 hash exchanges, got $hash in:\n$p")
  }

  test("rfmSegments: no global-rank window; thresholds broadcast") {
    val p = plan(Aggregates.rfmSegments(spark, sfDir))
    // threshold-based quartiles exist precisely to avoid ntile's
    // all-customers-in-one-partition sort
    assert(!p.contains("Window"), s"RFM must not globally rank customers:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row threshold/max-date frames must broadcast:\n$p")
  }

  test("marketShare: dims broadcast, fact tables never BNLJ") {
    val p = plan(Joins.marketShare(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"nation/region/supplier chain must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no unconditioned join may appear:\n$p")
  }

  test("epochShardFrame: the position window's shuffle is the ONLY exchange") {
    val p = plan(Pipeline.epochShardFrame(spark, sfDir))
    // the writer needs hash-by-shard, (shard, pos)-ordered rows — which
    // is exactly what the window's required distribution+ordering
    // produce; any repartition/sort after it would be a second pass
    // over the full corpus for nothing
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"permutation must never serialize to one partition:\n$p")
  }

  test("dataSplit: stateless classify + ONE partial-combined shuffle") {
    val p = plan(Pipeline.dataSplit(spark, sfDir))
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash in:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"split rollup must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no ranking needed to split:\n$p")
  }

  test("epochShuffle: the permutation window is PARTITIONED (no global sort task)") {
    val p = plan(Pipeline.epochShuffle(spark, sfDir))
    assert(!p.contains("Exchange SinglePartition"),
      s"a single-partition window would serialize the whole corpus through one task:\n$p")
    assert("hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"window must shard by the shard key:\n$p")
  }

  test("kmvDistinct: ranking window shards by group; both aggs partial-combined") {
    val p = plan(Sketch.kmvDistinct(spark, sfDir))
    assert(!p.contains("Exchange SinglePartition"),
      s"per-group sketch must never serialize through one task:\n$p")
    assert("hashpartitioning\\(grp".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sketch joins exact counts on the group key only:\n$p")
  }

  test("boilerplateNgrams: gram stream shuffles only into the DF agg; the boiler " +
      "join is an equi-join with map-side per-doc combine") {
    // boilerDf=2: the default threshold leaves the boiler set EMPTY on
    // the tiny spec corpus, and AQE then rightly deletes the whole join
    // branch (PropagateEmptyRelation) — audit the non-degenerate plan
    val df = Text.boilerplateFrom(spark, sfDir, Text.boilerplateGrams(spark, sfDir), 2)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram-to-boiler-set lookup must be an equi-join on the ngram key:\n$p")
    // pass B must partial-aggregate by doc BEFORE its exchange: the
    // plan carries a partial_count keyed by doc_id below the shuffle
    assert("HashAggregate\\(keys=\\[doc_id[^\\]]*\\], functions=\\[partial_count"
      .r.findFirstIn(p).isDefined,
      s"per-doc rollup must map-side combine the gram stream:\n$p")
    // the per-doc TOTAL comes from the scan (size(tokens)-4), not from
    // aggregating the gram stream: no sum over a 'c' counts column
    assert(!p.contains("partial_sum(c"), s"totals must not re-aggregate grams:\n$p")
  }

  test("pmiCollocations: marginals re-aggregate the bigram table; only the 1-row N broadcasts") {
    val df = Text.pmiCollocations(spark, sfDir)
    df.collect()
    // count in the FINAL plan only — AQE's printout repeats every node
    // in its "Initial Plan" section
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the single-row corpus-total frame is the only nested-loop build
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row N join may nest-loop:\n$p")
  }

  test("dsirWeights: llr model broadcasts; doc lookup is an equi-join on the bucket") {
    val df = Selection.dsirWeights(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the 1-row totals frame is the only permitted nest-loop build;
    // the buckets-row llr table must hash-broadcast onto the token stream
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row totals join may nest-loop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"llr lookup must broadcast the model-sized table:\n$p")
  }

  test("weightedMedian: windows scan the histogram, not documents") {
    val df = Selection.weightedMedian(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the corpus must collapse to (source, n_tokens) BEFORE any window:
    // a HashAggregate sits below the first Window in the plan text
    val iAgg = p.lastIndexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iWin >= 0 && iAgg > iWin,
      s"histogram aggregate must feed the window (agg below window in plan):\n$p")
    assert("hashpartitioning\\(source".r.findFirstIn(p).isDefined,
      s"window must partition by source:\n$p")
  }

  test("hardNegatives: two-phase top-k — local salt rank feeds the per-query rank") {
    val df = Similarity.hardNegatives(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 2, s"expected local+global rank windows, got $windows:\n$p")
    // the query side is model-sized and must broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query vectors must broadcast:\n$p")
    // the local rank partitions by (q_id, salt) — the salt projects as
    // a _wN internal column; the global rank then re-shuffles by q_id
    assert("hashpartitioning\\(q_id#\\d+L?, _w\\d+".r.findFirstIn(p).isDefined,
      s"local rank must partition by (q_id, salt):\n$p")
  }

  test("triangleCensus: oriented two-join closure is equi-join only") {
    val df = Graph.triangleCensus(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian in the closure:\n$p")
    // wedge-total × triangle-total is the one allowed 1-row nest loop
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row census join may nest-loop:\n$p")
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      s"edge joins must be equi-joins:\n$p")
  }

  test("zoneMap: ONE partial-combined hash agg, no joins, no windows") {
    val p = plan(EventOps.zoneMap(spark, sfDir))
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"zone map is one agg shuffle, got $hash:\n$p")
    assert("partial_count|partial_min|partial_sum".r.findFirstIn(p).isDefined,
      s"zone stats must combine map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"scan+agg only:\n$p")
  }

  test("tCloseness: corpus work is agg-only, every join broadcast, the one " +
      "window is the 5-row marginal total") {
    val p = plan(Pipeline.tCloseness(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), s"dimension joins must broadcast:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"QI cells must combine map-side:\n$p")
    // exactly one Window: the sum-over-() marginal total on the 5-row
    // segment frame — never a corpus-level window
    assert("Window \\[".r.findAllIn(p).length == 1, s"one marginal window only:\n$p")
    assert(p.contains("SinglePartition"),
      s"the marginal window runs on the collapsed 5-row frame:\n$p")
  }

  test("kmvSetOps: merged sketch top-k prunes via WindowGroupLimit; " +
      "nested-loop joins bounded to the type-pair cross") {
    val p = plan(graft.ops.Sketch.kmvSetOps(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"the k-smallest rank must push down, not sort whole partitions:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"only the |types|x|types| pair cross may nest-loop ($bnlj):\n$p")
  }

  test("incrAggDelete: the group-sized merged view is truncated so events is " +
      "scanned once; the recompute branch is semi-join-pruned") {
    val df = Aggregates.incrAggDelete(spark, sfDir)
    val p = plan(df)
    val scans = "FileScan".r.findAllIn(p).length
    assert(scans == 1,
      s"only the recompute branch may rescan events, got $scans scans:\n$p")
    assert(p.contains("LeftSemi"),
      s"the recompute scan must prune to affected groups:\n$p")
  }

  test("kAnonymity: two stacked partial-combined aggs, nothing else") {
    val p = plan(Pipeline.kAnonymity(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("Window"), s"agg-only plan:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"QI grouping must combine map-side:\n$p")
  }

  test("bm25: posting rows filtered before the tf agg; top-k streams (TakeOrdered)") {
    val df = Text.bm25(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must stream, not globally sort:\n$p")
    // term filter sits under the explode output, above the scan — the
    // posting list never shuffles unmatched tokens
    val iFilter = p.lastIndexOf("Filter")
    val iExch = p.lastIndexOf("Exchange")
    assert(iFilter > iExch,
      s"term filter must apply before the first shuffle (deepest in plan):\n$p")
  }

  test("mmrRerank: final frame is model-sized — no corpus scan survives the greedy") {
    val df = Similarity.mmrRerank(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the greedy's 1-row picks are localCheckpointed (lineage of an
    // unrolled greedy is otherwise exponential in k), so the emitted
    // plan must be a union of checkpointed rows — if a parquet scan or
    // SortMergeJoin appears here, corpus-sized work leaked past the
    // shortlist boundary into the per-result lineage
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      s"corpus scan leaked into the greedy result lineage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"greedy steps must only join model-sized frames:\n$p")
  }

  test("ccnetBuckets: scored docs collapse to a histogram before any per-source window") {
    val df = Text.ccnetBuckets(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange SinglePartition"),
      s"no global single-task window:\n$p")
    // the cumulative window partitions by source over HISTOGRAM rows:
    // a HashAggregate (the histogram build) must sit below the first
    // Window in the plan text (the weightedMedian idiom)
    val iAgg = p.lastIndexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iWin >= 0 && iAgg > iWin,
      s"histogram aggregate must feed the window:\n$p")
  }

  test("lshBandTune: candidates from equi self-join on (cfg, band); verify joins by pair key") {
    val df = Dedup.lshBandTune(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the only nest-loop allowed is the 1-row truth-total bound frame
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row truth join may nest-loop:\n$p")
    assert("hashpartitioning\\(cfg".r.findFirstIn(p).isDefined,
      s"bucket join must shuffle on the (cfg, band) key:\n$p")
  }

  test("knnClassify: list-restricted candidates are equi-joins; no cartesian anywhere") {
    val df = Similarity.knnClassify(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the only nested-loop products are the bounded corpus×centroids
    // assignment broadcasts (the IVF shape); the holdout×train
    // candidate join itself must be an equi-join on centroid_id
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findFirstIn(p).isDefined,
      s"candidate join must be an equi-join:\n$p")
    // two-phase top-k: local salt rank + global rank
    val windows = "Window ".r.findAllIn(p).length
    assert(windows >= 2, s"expected local+global rank windows:\n$p")
  }

  test("madOutliers: histograms feed the median windows; stats broadcast back") {
    val df = Aggregates.madOutliers(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange SinglePartition"),
      s"medians must come from per-type histogram windows:\n$p")
    val iAgg = p.lastIndexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iWin >= 0 && iAgg > iWin,
      s"histogram aggregate must sit below the first window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the #types-row stats table must broadcast:\n$p")
  }

  test("backoffLm: count-table joins are equi-joins; only the 1-row N broadcasts") {
    val df = Text.backoffLm(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row n_train join may nest-loop:\n$p")
  }

  test("ivfRecall: probed-list fetch and recall joins are equi-joins; ranks are two-phase") {
    val df = Similarity.ivfRecall(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // two topK calls × (local salt rank + global rank)
    val windows = "Window ".r.findAllIn(p).length
    assert(windows >= 4, s"expected 2×(local+global) rank windows, got $windows:\n$p")
  }

  test("ivfPqRecall: stored-code scan keeps dynamic pruning under the multi-query probe") {
    val df = Pq.ivfPqRecall(spark, sfDir)
    val codeScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("ivfpq_codes")) => s
    }
    assert(codeScans.nonEmpty, "no parquet scan of the stored code table found")
    codeScans.foreach { s =>
      val pf = s.partitionFilters.mkString(", ")
      assert(pf.contains("dynamicpruning"),
        s"codes scan lost dynamic pruning in the recall probe: [$pf]")
    }
    df.collect()
    assert(!plan(df).split("== Initial Plan ==")(0).contains("CartesianProduct"))
  }

  test("bandChoice: one scalar agg over sessions — no joins, no extra shuffles") {
    val df = Behavior.bandChoice(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"the chooser must be join-free:\n$p")
    // sessions: one user_id shuffle (window + session agg), then the
    // 1-row stats agg — nothing else may shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected ≤1 hash exchange (sessions), got $exchanges:\n$p")
  }

  test("seqPattern: type filter pushed to the scan; ONE user shuffle feeds window+agg") {
    val df = Behavior.seqPattern(spark, sfDir)
    val pushed = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("In(event_type"),
      s"pattern alphabet must prune at the scan: $pushed")
    val p = plan(df)
    assert(!p.contains("Join"), s"CEP over one stream is join-free:\n$p")
    // lead-window and groupBy(user) share the user_id clustering: the
    // agg must reuse the window's exchange, not add its own
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"one user_id shuffle serves window AND agg, got $hash:\n$p")
  }

  test("compactionPlan: object rollup -> window -> group rollup, no joins, no global sort") {
    val p = plan(EventOps.compactionPlan(spark, sfDir))
    assert(!p.contains("Join"), s"packing is join-free:\n$p")
    assert(!p.contains("Exchange SinglePartition") || !p.contains("Sort [hour"),
      s"prefix sums must shard by event_type, not globally sort:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"object rollup must combine map-side:\n$p")
  }

  test("zorderSkip: ONE partial-combined hash agg on the computed zone key") {
    val p = plan(EventOps.zorderSkip(spark, sfDir))
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"Z-zone audit is one agg shuffle, got $hash:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"scan+agg only:\n$p")
    assert("partial_min|partial_max".r.findFirstIn(p).isDefined,
      s"zone bounds must combine map-side:\n$p")
  }

  test("jlProjection: sign table broadcasts; audit pair product bounded by the vec_id filter") {
    val df = Similarity.jlProjection(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), s"planes/pair sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
    // the exact-cosine pair join is the only nested loop, and both its
    // inputs carry the vec_id < nVecs range filter
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the bounded audit-pair join may nest-loop:\n$p")
    val pushed = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("LessThan(vec_id"),
      s"audit subset must prune at the scan: $pushed")
  }

  test("qualityDupLift: dup flag joins by doc_id; only the 1-row totals broadcast nest-loops") {
    val df = Selection.qualityDupLift(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row totals join may nest-loop:\n$p")
  }

  test("vocabGrowth: prefix sum shards by bucket — the only single-partition windows are model-sized") {
    val df = Text.vocabGrowth(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the doc-offset window must be partitioned by __bucket; the two
    // allowed unpartitioned windows (shard carry, cohort cumsum) run
    // over shards-count resp. log2(corpus) rows
    assert(p.contains("hashpartitioning(__bucket"),
      s"doc offsets must shard by bucket:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("cooccurWindow: pair generation is a banded EQUI-join; top-k streams") {
    val df = Text.cooccurWindow(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the (doc_id, position) pair join must be a hash/merge equi-join,
    // never a nested loop evaluating the range predicate per pair
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row N join may nest-loop:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must stream:\n$p")
  }

  test("contextLenPlanner: generator explode + one partial-combined agg, nothing else") {
    val p = plan(Pipeline.contextLenPlanner(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("Window"), s"agg-only plan:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"budget cells must combine map-side:\n$p")
  }

  test("labelBalance: label agg + 1-row broadcast back, no corpus-sized join side") {
    val df = Similarity.labelBalance(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"only the 1-row totals join may nest-loop:\n$p")
  }

  test("knLm: count-table joins are equi-joins; only the 1-row type count broadcasts") {
    val df = Text.knLm(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the 1-row n_types join may nest-loop:\n$p")
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      s"count lookups must be equi-joins:\n$p")
  }

  test("silhouette: centroid table broadcasts on pos; cost stays corpus x labels") {
    val df = Similarity.silhouette(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the vec x centroid pairing must never shuffle the corpus side on pos:\n$p")
  }

  test("hybridRrf: both shortlists TakeOrdered-prune BEFORE any window or fusion join") {
    val df = Similarity.hybridRrf(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"both the BM25 and dense shortlists must be top-N prunes, not global sorts:\n$p")
    // the only windows run on post-limit model-sized frames; the plan
    // must never sort a corpus-sized side globally outside TakeOrdered
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("attribution: ONE user-window pass feeds the channel rollup — no self-join") {
    val df = Behavior.attribution(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"the carry-forward window replaces the as-of join:\n$p")
    assert("Window".r.findAllIn(p).length == 1, s"one window pass only:\n$p")
  }

  test("joinCardEst: sizes the self-join from the count table — the join itself never runs") {
    val df = Skew.joinCardEst(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the only joins are broadcasts of the 4-row moduli frame and the
    // 1-row exact frame — no events-by-events join exists in the plan
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no fact-by-fact join may appear:\n$p")
    assert("partial_count|partial_sum".r.findFirstIn(p).isDefined,
      s"the key-count table must combine map-side:\n$p")
  }

  test("artifact consumers probe the STORED index — no in-plan re-derivation") {
    // pair-table consumer: the emitted plan reads the committed pair
    // parquet; the shingle->minhash->band-join pipeline must be absent
    val pairPlan = plan(Dedup.lshNearDupPairs(spark, sfDir))
    assert(pairPlan.contains("near_dup_pairs"),
      s"pair queries must scan the committed artifact:\n$pairPlan")
    assert(!pairPlan.toLowerCase.contains("documents.parquet"),
      s"no corpus re-scan in a pair read:\n$pairPlan")
    // IVF consumer: the coarse assignment comes from the stored index
    val ivfPlan = plan(Similarity.ivfAssign(spark, sfDir))
    assert(ivfPlan.contains("ivf_assignments"),
      s"IVF consumers must scan the committed assignment:\n$ivfPlan")
    assert(!ivfPlan.toLowerCase.contains("embeddings.parquet"),
      s"no corpus re-scan in an assignment read:\n$ivfPlan")
  }

  test("incrAggMerge: two partial agg legs merged by a final agg; all aggs map-side combine") {
    val df = Aggregates.incrAggMerge(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("Union"), s"base and delta legs must union:\n$p")
    assert(!p.contains("Join"), s"merge is a re-agg, not a join:\n$p")
    assert("partial_sum|partial_count".r.findFirstIn(p).isDefined,
      s"partials must combine map-side:\n$p")
  }
}
