package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Scale-mechanics tests: plan shapes (shuffle elimination, pushdown,
  * loop rounds) and ANN recall against the brute-force reference. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("LoopCache: N-round iterative ops leave O(1) live cache entries") {
    val sc = spark.sparkContext
    // small undirected-ish graph with enough structure for 5 rounds
    val edges = (for {
      a <- 1L to 30L; b <- 1L to 30L
      if a != b && (a % 7 == b % 7 || a + 1 == b)
    } yield (a, b)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("id")

    def delta[T](before: Int)(run: => T): Int = {
      run; sc.getPersistentRDDs.size - before
    }
    // each operator may keep its pinned FINAL table, nothing per-round:
    // 5 rounds without the release would leak 5-6 entries per run
    assert(delta(sc.getPersistentRDDs.size) {
      EdgeLoops.bfsLevels(edges, "src", "dst", seeds, "id", rounds = 5).count()
    } <= 1, "Bfs leaked per-round level tables")
    // PageRank keeps its pinned final. The node count that sizes the
    // token scale is a plain head() inside the memo build, so it leaves
    // no entry, and a warm re-invocation skips it through the memo (the
    // adjacency-loop test below pins PageRank at exactly 1 entry)
    assert(delta(sc.getPersistentRDDs.size) {
      EdgeLoops.pageRank(edges, "src", "dst", iterations = 5).count()
    } <= 2, "PageRank leaked its edge anchor")
    // re-invocation must add NOTHING: the memo returns the pinned final
    assert(delta(sc.getPersistentRDDs.size) {
      EdgeLoops.pageRank(edges, "src", "dst", iterations = 5).count()
    } == 0, "warm PageRank re-invocation missed its pinned count/final")
    assert(delta(sc.getPersistentRDDs.size) {
      EdgeLoops.lpaCommunities(edges, "src", "dst", rounds = 5).count()
    } <= 1, "LPA leaked its edge anchor")
    assert(delta(sc.getPersistentRDDs.size) {
      val vecs = (1L to 40L).map(i => (i, Seq.tabulate(4)(d => ((i * 7 + d) % 13).toInt)))
        .toDF("id", "codes")
      operators.IntCluster.kmeans(vecs, "id", "codes", k = 3, iterations = 4).count()
      // pinned final + the 1-row corpus-count aggregate feeding loopWidth
    } <= 2, "kmeans leaked per-round centroid tables / the corpus anchor")
  }

  test("LoopCache: each adjacency loop keeps its edge entry point's live-entry bound") {
    val sc = spark.sparkContext
    val edges = (for {
      a <- 1L to 30L; b <- 1L to 30L
      if a != b && (a % 7 == b % 7 || a + 1 == b)
    } yield (a, b)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("id")
    def nbrs(e: org.apache.spark.sql.DataFrame, key: String, nbr: String) =
      e.groupBy(col(key).as("id")).agg(sort_array(collect_list(col(nbr))).as("nbrs"))
    def withDeg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"), sort_array(collect_list(col("dst"))).as("dsts"))
    val adj = withDeg(edges)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val sym = edges.union(edges.select(col("dst"), col("src"))).distinct()
    val wadj = edges.withColumn("nb", struct(col("dst").as("d"), (col("src") % 5L + 1L).as("w")))
      .groupBy(col("src").as("id")).agg(sort_array(collect_list(col("nb"))).as("nbrs"))
    spark.catalog.clearCache()
    operators.LoopCache.clearMemo()
    // (name, live entries a first call may leave, whether exactly that many)
    val loops: Seq[(String, Int, Boolean, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("fixedPointAdj", 1, true,
        () => operators.PageRank.fixedPointAdj(adj, nodes, iterations = 5)),
      ("personalizedAdj", 1, true,
        () => operators.PageRank.personalizedAdj(adj, seeds, "id", iterations = 5)),
      ("communitiesAdj", 1, false,
        () => operators.LabelPropagation.communitiesAdj(nbrs(sym, "src", "dst"), rounds = 5)),
      ("levelsAdj", 1, false,
        () => operators.Bfs.levelsAdj(nbrs(edges, "src", "dst"), seeds, "id", rounds = 5)),
      ("distancesAdj", 1, false,
        () => operators.ShortestPath.distancesAdj(wadj, seeds, "id", rounds = 5)),
      ("scoresAdj", 2, true, () => operators.Hits.scoresAdj(
        nbrs(edges, "src", "dst"), nbrs(edges, "dst", "src"), rounds = 5)),
      ("survivorsAdj", 2, false,
        () => operators.KCore.survivorsAdj(withDeg(sym), k = 3L, rounds = 5)))
    for ((name, bound, exact, run) <- loops) {
      val before = sc.getPersistentRDDs.size
      run().count()
      val first = sc.getPersistentRDDs.size - before
      assert(if (exact) first == bound else first <= bound,
        s"$name left $first live cache entries, bound $bound")
      val afterFirst = sc.getPersistentRDDs.size
      run().count()
      assert(sc.getPersistentRDDs.size == afterFirst,
        s"$name warm re-invocation added cache entries")
    }
  }

  test("PageRank loops: the round count adds no Spark job") {
    // a PageRank round reads its predecessor once, so the rounds chain
    // into one plan that LoopCache.finish forces as one job: a cold call
    // runs the same jobs at 8 rounds as at 3 (a per-round pin would add
    // a count job per round, a per-round broadcast one more). The deeper
    // call also compiles no class: the loop session leaves the per-round
    // codegen stage id out of generated class names.
    import graft.operators.{LoopCache, PageRank}
    import graft.tools.TaskEnvelope
    import org.apache.spark.metrics.source.CodegenMetrics
    val edges = (for {
      a <- 1L to 30L; b <- 1L to 30L
      if a != b && (a % 7 == b % 7 || a + 1 == b)
    } yield (a, b)).toDF("src", "dst")
    val adj = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"), sort_array(collect_list(col("dst"))).as("dsts"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val seeds = Seq(1L, 2L).toDF("id")
    def coldJobs(run: => org.apache.spark.sql.DataFrame): Long = {
      spark.catalog.clearCache()
      LoopCache.clearMemo()
      TaskEnvelope.measure(spark) { run; () }.jobs
    }
    val loops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "fixedPointAdj" -> (n => PageRank.fixedPointAdj(adj, nodes, iterations = n)),
      "personalizedAdj" -> (n => PageRank.personalizedAdj(adj, seeds, "id", iterations = n)))
    for ((name, loop) <- loops) {
      val three = coldJobs(loop(3))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val eight = coldJobs(loop(8))
      assert(eight == three, s"$name ran $three jobs at 3 rounds and $eight at 8")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
        s"$name compiled new classes for rounds 4 to 8")
    }
    spark.catalog.clearCache()
    LoopCache.clearMemo()
  }

  test("PageRank over the staged tables: the width and the token scale " +
      "start no Spark job") {
    // the loop width and the node count come from the staged files'
    // parquet footers, so a cold call runs only the jobs of its final
    // (2 here); an aggregate read of either (a head()) adds jobs
    import graft.operators.{LoopCache, PageRank}
    import graft.tools.TaskEnvelope
    val sf = "/root/testdata/sf0.001"
    val adj = Tables.copurchaseAdjacency(spark, sf)
    val nodes = Tables.copurchaseNodes(spark, sf)
    spark.catalog.clearCache()
    LoopCache.clearMemo()
    val env = TaskEnvelope.measure(spark) {
      PageRank.fixedPointAdj(adj, nodes); ()
    }
    assert(env.jobs == 2, s"a cold fixedPointAdj ran ${env.jobs} jobs")
    spark.catalog.clearCache()
    LoopCache.clearMemo()
  }

  test("selective filters and projections reach the parquet scan") {
    val sf = "/root/testdata/sf0.001"
    val q11 = QueriesRelational.filterRevenue(spark, sf)
    val plan = q11.queryExecution.executedPlan.toString
    // predicate pushdown: the lineitem scan must carry pushed filters,
    // not read-everything-then-filter
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.contains("PushedFilters: []"), plan)
    // column pruning: a 2-column aggregate must not read the whole schema
    val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanSchema.contains("l_comment"), scanSchema)
  }

  test("q12 five-way join broadcasts the dimension tables") {
    val plan = QueriesRelational.joinRevenue(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhash signatures plan is map-only (no Exchange below the scan)") {
    val sigs = graft.operators.Dedup.minHashSignatures(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    val plan = sigs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // and the signature expression runs inside WholeStageCodegen
    // (rendered as a `*(n)` stage prefix in the plan string)
    assert(plan.contains("*(1)"), plan)
  }

  test("hash sampling is a pure pushdown-safe filter (no shuffle, no agg)") {
    val s = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(graft.operators.Sampling.lehmerU($"doc_id") < 0.3)
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("q56 corpus-prep pipeline fuses: shuffles only at dedup window and final agg") {
    val plan = QueriesPipeline.corpusPrep(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // quality filter + sampling are narrow (fused into the scans/window);
    // expected KEYED exchanges: dedup window partitioning, final agg hash
    // partitioning, and the output sort — anything more means a stage
    // leaked. The conditional scan rebalance (round-robin, fires only on
    // coarse single-row-group local scans) is not a keyed stage boundary
    // and is excluded from the count.
    val keyedExchanges =
      "Exchange (hash|range)partitioning".r.findAllIn(plan).length
    assert(keyedExchanges <= 3, s"$keyedExchanges keyed exchanges:\n$plan")
    // and nothing may collapse the pipeline into one task — the failure
    // mode the old count-all-exchanges bound also caught
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition stage leaked into corpusPrep:\n$plan")
  }

  test("sourceOverlap: two keyed shuffles, pair expansion without a self-join") {
    val docs = Seq(
      ("a", "s1 s2 x1 x2"), ("b", "s1 s2 y1 y2"), ("c", "s1 s2"))
      .toDF("source", "text")
    val q = graft.operators.Overlap.sharedBlockMatrix(
      docs, "source", "text", blockTokens = 2)
    val plan = q.queryExecution.executedPlan.toString
    // block groupBy (collect_set) + pair-count groupBy; the (source,block)
    // distinct must fold into the set aggregate, and the upper-triangle
    // expansion is an array expression — a join would mean the block table
    // got self-joined, the shape that explodes at corpus scale
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(keyed == 2, s"$keyed keyed exchanges:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in sourceOverlap:\n$plan")
  }

  test("q72 upsert: rank pushdown trims winners pre-shuffle; snapshot joins in place") {
    val plan = QueriesPipeline.upsertLatest(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // WindowGroupLimit = per-partition top-1 BEFORE the window exchange
    assert(plan.contains("WindowGroupLimit"), plan)
    // two hash exchanges in the STATIC plan — the update path's winners
    // window and the insert path's copy of it, which are canonically
    // identical so AQE's stage reuse executes the shuffle once. The
    // snapshot's full rows never hash-shuffle: winners broadcast into
    // the left join, snapshot KEYS broadcast into the anti join.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 2, s"$hashEx hash exchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q58 per-key average: one orders scan, window in place of the self-join") {
    val plan = QueriesAnalytics.correlatedAboveAvg(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // r19: the correlated average is computed by a window over ONE scan
    // (the decorrelated aggregate + join re-scanned orders); no subquery,
    // no join, a single parquet scan
    assert(!plan.contains("ScalarSubquery"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("q59 star join: all three dimensions broadcast, fact side never shuffles pre-agg") {
    val plan = QueriesAnalytics.partsSupplyStar(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 3, plan)
    // only exchanges: final agg partitioning + output sort (+ broadcasts)
    assert(!plan.contains("Exchange hashpartitioning(l_"), plan)
  }

  test("q60 trigram stats are map-only before the output sort") {
    val plan = QueriesAnalytics.trigramStats(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("q62 array HOFs run inside whole-stage codegen, no shuffle before sort") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val noSort = e.select(size(filter(col("embedding"), v => v > lit(0.0f))).as("n"))
    val plan = noSort.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  test("q63 argmax-by-struct plans as one partial/final agg, no window sort") {
    val plan = QueriesAnalytics.argmaxTopOrder(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // one hash-partitioned exchange for the agg + one range for the sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("int8 knn recalls most of the float brute-force top-5") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = topSet(Similarity.bruteForceKnn(emb, queries, k = 5))
    val quant = topSet(Similarity.int8Knn(emb, queries, k = 5))
    // 7-bit codes perturb near-tie orderings but must keep the bulk of
    // the neighborhood: recall@5 >= 60% on random vectors
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("LSH knn recovers planted exact duplicates at rank 1") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    // identical vectors fall in the SAME hyperplane bucket with
    // certainty, so the planted copy must be every query's rank-1 at
    // cosine 1.0 — the deterministic slice of a probabilistic operator
    val planted = queries.select(($"vec_id" + 100000L).as("vec_id"),
      $"embedding", $"label")
    val rank1 = Similarity.lshKnn(emb.unionByName(planted), queries, k = 1)
      .select($"qid", $"neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach(q => assert(rank1(q) == q + 100000L, s"q=$q"))
  }

  test("IVF knn: perfect recall on planted exact duplicates, bounded candidates") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val ivf = Similarity.ivfKnnProbe(Similarity.ivfIndex(emb, nCentroids = 8),
        queries, k = 1, nProbe = 2)
      .collect()
    // rank-1 neighbor under IVF must match brute force for the planted case:
    // query vectors ARE corpus vectors, so their own cell is probed first and
    // the true nearest neighbor of an identical vector is itself — excluded —
    // so compare rank-1 against brute force restricted to the probed cells is
    // circular; instead check the structural contract:
    assert(ivf.length == 5) // every query produced a rank-1 neighbor
    assert(ivf.forall(_.getAs[Int]("rank") == 1))
    // and recall vs brute force at k=1 should be high but is probabilistic;
    // require at least 3/5 agreement for nProbe=2 of 8 cells
    val brute = Similarity.bruteForceKnn(emb, queries, k = 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("neighbor_id")).toMap
    val agree = ivf.count(r =>
      brute(r.getAs[Long]("qid")) == r.getAs[Long]("neighbor_id"))
    assert(agree >= 3, s"IVF@1 agreed on only $agree/5 queries")
  }

  test("banded cosine screen: product-free plan, full recall vs exact pairs") {
    val sf = "/root/testdata/sf0.001"
    // 1) the q84 capstone plan must contain NO product operator: the pair
    // stage is a (band, key) equi-join, never a cross join
    val q84plan = QueriesCorpus.semanticDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!q84plan.contains("CartesianProduct"), q84plan)
    assert(!q84plan.contains("BroadcastNestedLoopJoin"), q84plan)
    // 2) recall check against the exact ground truth on the planted
    // corpus: the banded screen's verified pairs must equal the exact
    // upper-triangle threshold join's pairs (exact duplicates collide in
    // every band with certainty; organic >=0.99 pairs, if any, must also
    // be caught — this is the assumption q84's oracle greenness rests on)
    val corpus = QueriesText.plantedEmbeddingCorpus(spark, sf)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a".cast("long"), $"id_b".cast("long"))
        .as[(Long, Long)].collect().toSet
    val exact = pairSet(References.exactCosinePairs(corpus, minCosine = 0.99))
    val bandedDf = Similarity.cosineNearDupsBanded(corpus, minCosine = 0.99)
    val banded = pairSet(bandedDf)
    assert(banded == exact,
      s"banded screen missed ${(exact -- banded).size} pairs / " +
        s"invented ${(banded -- exact).size}")
    // 3) the band-keyed exchanges (shuffle OR broadcast — at sf0.001 the
    // tiny id-only screen side broadcasts) must carry ids only, never the
    // embedding payload: a band exchange whose row schema contains an
    // array column means the screen is shipping vectors nBands x through
    // the exchange — the r8-flagged weak shape. Vectors are allowed to
    // move only in the candidate-bounded gather (no band column there).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.types.ArrayType
    // the screen plan lives inside LoopCache-pinned InMemoryRelations
    // (the result frame is pinned, and the candidate frame is pinned
    // inside it), and AQE hides subtrees behind leaf wrappers
    // (AdaptiveSparkPlanExec / query stages) — flatten ALL of them so
    // every physical node in the executed pipeline is visible
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val direct = p.collect { case n => n }
      direct ++ direct.flatMap {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case s: InMemoryTableScanExec => nodes(s.relation.cachedPlan)
        case _ => Nil
      }
    }
    val bandExchanges = nodes(bandedDf.queryExecution.sparkPlan).collect {
      case e: Exchange if e.output.exists(_.name == "band") => e
    }
    assert(bandExchanges.nonEmpty, "expected a band-keyed exchange")
    bandExchanges.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"band exchange carries array payload ${arrays.map(_.name)}:\n$e")
    }
  }

  test("kmeans assignment is map-only: no keyed exchange of the vector side") {
    // iterations=1 isolates the assignment pass; centroid seeding is a
    // bounded top-k (TakeOrdered + single-partition k-row stages), so any
    // hashpartitioning exchange means the vector payload got shuffled —
    // the shape the array-fold argmin exists to avoid
    val vecs = (0L to 99L).map(i => (i, Array.fill(8)(i.toInt % 11)))
      .toDF("vec_id", "codes")
    val plan = graft.operators.IntCluster
      .kmeans(vecs, "vec_id", "codes", k = 4, iterations = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("centroid outliers: codes never reach the ranking window's shuffle") {
    val vecs = (0L to 99L).map(i => (i, s"g${i % 3}", Array.fill(8)(i.toInt % 11)))
      .toDF("vec_id", "label", "codes")
    val q = graft.operators.IntCluster
      .centroidOutliers(vecs, "vec_id", "label", "codes")
    val plan = q.queryExecution.executedPlan.toString
    // expected keyed exchanges: per-dim centroid agg, centroid list agg,
    // rank window — the member table itself re-joins the centroids
    // BROADCAST and drops codes before the window
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(keyed <= 3, s"$keyed keyed exchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("temperature-mix sample is a broadcast-join pure filter: no keyed exchange") {
    val df = (1L to 500L).map(i => (i, s"src${i % 5}")).toDF("doc_id", "source")
    val targets = graft.operators.Sampling.sqrtTemperatureTargets(df, "source")
    val plan = graft.operators.Sampling
      .temperatureMixSample(df, "source", "doc_id", targets)
      .queryExecution.executedPlan.toString
    assert(!"Exchange (hash|range)partitioning".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("fuzzy blockedPairs joins on salt buckets with the distance LAST " +
      "in the residual (the 10x-measured skew/ordering regression pins)") {
    val plan = graft.operators.FuzzyMatch.blockedPairs(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the join must key on the salt-bucket pair (ba, bb), not on blk
    // alone — keying on blk alone is the shape that serialized a hot
    // block's m^2 verifications onto one task at 10x
    assert("\\[blk#\\d+, ba#\\d+, bb#\\d+\\]".r.findFirstIn(plan).isDefined
      || plan.contains("ba#"), plan)
    // and the levenshtein residual must run AFTER the cheap salt/id
    // predicates: a pushed-in distance filter evaluates the edit
    // distance on every bucket-collision pair
    val cond = plan.linesIterator
      .find(l => l.contains("levenshtein") && l.contains("least")).getOrElse("")
    assert(cond.nonEmpty, plan)
    assert(cond.indexOf("least") < cond.indexOf("levenshtein"), cond)
  }

  test("repetition metrics plan: doc-keyed only, no product, no single-partition funnel") {
    val plan = graft.operators.Repetition.metrics(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // every keyed exchange is (doc) or (doc, gram) — corpus-global state
    // would show up as a SinglePartition exchange
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("repetition metrics: production plan is MAP-ONLY (zero exchanges); " +
      "relational gram exchanges carry fixed-width hashes, never strings") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StringType
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val direct = p.collect { case n => n }
      direct ++ direct.flatMap {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case _ => Nil
      }
    }
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // production tier: every metric is per-document, so the plan must be
    // scan->project with NO exchange at all — the strongest scale shape
    val prod = graft.operators.Repetition.metrics(docs, "doc_id", "text")
      .queryExecution.executedPlan
    assert(nodes(prod).collect { case e: Exchange => e }.isEmpty,
      prod.toString)
    // relational reference tier: the (doc, gram) shuffles were q140's
    // dominant cost when they keyed on raw 5-gram strings (VERDICT r9
    // #3); the hashed tier must keep them at 3 longs/row
    val rel = References
      .metricsRelational(docs, "doc_id", "text", hashGrams = true)
      .queryExecution.executedPlan
    val gramEx = nodes(rel).collect {
      case e: Exchange if e.output.exists(_.name == "gh") => e
    }
    assert(gramEx.nonEmpty, rel.toString)
    gramEx.foreach { e =>
      val strs = e.output.filter(_.dataType == StringType)
      assert(strs.isEmpty,
        s"gram exchange carries string payload ${strs.map(_.name)}:\n$e")
    }
  }

  test("cross-corpus banded screen: band exchange carries ids only") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.types.ArrayType
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val eval_ = emb.filter($"vec_id" < 20)
      .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
    val df = graft.operators.Similarity
      .crossCosineNearDupsBanded(emb, eval_, minCosine = 0.99)
    assert(df.count() == 20) // planted copies all recovered
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val direct = p.collect { case n => n }
      direct ++ direct.flatMap {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case s: InMemoryTableScanExec => nodes(s.relation.cachedPlan)
        case _ => Nil
      }
    }
    val bandExchanges = nodes(df.queryExecution.sparkPlan).collect {
      case e: Exchange if e.output.exists(_.name == "band") => e
    }
    assert(bandExchanges.nonEmpty, "expected a band-keyed exchange")
    bandExchanges.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"band exchange carries array payload ${arrays.map(_.name)}:\n$e")
    }
  }

  test("memory envelope ceilings: q121 and q56 run spill-free with bounded " +
      "per-task execution memory at sf0.01") {
    // regression pins on the two memory-heaviest dedup shapes (VERDICT
    // r8 #6): the fuzzy candidate join and the corpus-prep dedup window.
    // Measured ~8 MB peak task memory each at sf0.01; the 256 MB ceiling
    // is ~30x headroom — it exists to catch a blowup (a de-salted join
    // buffering a whole hot block, a window losing its partial
    // aggregation), not to pin noise. Disk spill must be exactly zero:
    // any spill at this scale means a task tried to buffer far beyond
    // the data's working set.
    val sf = "/root/testdata/sf0.01"
    for (name <- Seq("q121_fuzzy_matches", "q56_corpus_prep")) {
      val q = Queries.registry.find(_.name == name).get
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val e = graft.tools.TaskEnvelope.measure(spark) {
        q.fn(spark, sf).write.format("noop").mode("overwrite").save()
      }
      assert(e.diskSpill == 0L, s"$name spilled ${e.diskSpill} B to disk")
      assert(e.peakTaskMem <= 256L * 1024 * 1024,
        s"$name peak task memory ${e.peakTaskMem} B breached the ceiling")
    }
  }

  test("memory envelope ceilings at sf0.1: dedup/LSH/capstone shapes stay " +
      "spill-free under bounded per-task execution memory") {
    // VERDICT r12 #6: the sf0.01 envelope above catches kernel-level
    // blowups but not scale-dependent ones (a hot fuzzy block, an LSH
    // bucket that grows with the corpus, the capstone's widest join).
    // Measured sf0.1 peaks (r13): q121 65 MB, q56 64 MB, q112 66 MB,
    // q32/q41 similar — the 128 MB ceiling is ~2x headroom, so a kernel
    // edit that regresses task memory by the next power of two fails
    // red here before it becomes a prodcold surprise. Spill must stay
    // exactly zero: these operators are built to never buffer beyond a
    // bounded candidate set per task.
    //
    // q34 is DIFFERENT BY DESIGN and carries its own ceiling: it is the
    // spec-only EXACT all-pairs jaccard tier (bench=false) whose
    // candidate set is every doc pair sharing any token — inherently
    // corpus-quadratic (measured 1.35 GB peak task at sf0.1, the
    // (id_a,id_b) aggregate map; it degrades to sort-spill, not OOM,
    // past the executor's share). The SCREENS (q32 minhash, q33
    // simhash, q124 prefix, q132 SNM) are the scale path; q34's pin
    // exists to catch a regression in the exact tier's CURRENT
    // footprint, not to claim it scales.
    val sf = "/root/testdata/sf0.1"
    for ((name, ceilingMb) <- Seq(
        "q121_fuzzy_matches" -> 128L, "q56_corpus_prep" -> 128L,
        "q112_corpus_prep2" -> 128L, "q34_jaccard_pairs" -> 2048L,
        "q32_minhash_pairs" -> 128L, "q41_knn_lsh" -> 128L)) {
      val q = Queries.registry.find(_.name == name).get
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val e = graft.tools.TaskEnvelope.measure(spark) {
        q.fn(spark, sf).write.format("noop").mode("overwrite").save()
      }
      info(f"$name: peak task ${e.peakTaskMem / 1024.0 / 1024}%.1f MB, " +
        s"spill ${e.diskSpill} B")
      assert(e.diskSpill == 0L, s"$name spilled ${e.diskSpill} B to disk")
      assert(e.peakTaskMem <= ceilingMb * 1024 * 1024,
        s"$name peak task memory ${e.peakTaskMem} B breached the sf0.1 ceiling")
    }
  }

  // ---- wave-8 plan pins: the load-bearing shapes PLANS.md documents ----

  private def planOf(name: String): String = {
    val q = Queries.registry.find(_.name == name).get
    q.fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
  }
  private def keyedExchanges(plan: String): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(plan).length

  test("q143 DSIR: LLR broadcast, TakeOrdered selection, one shared tokenize exchange") {
    val plan = planOf("q143_dsir_importance")
    // the 4096-row model table must broadcast to the scoring pass, never
    // shuffle-join against the feature stream
    assert(plan.contains("BroadcastHashJoin"), plan)
    // Gumbel top-k is a TakeOrdered tree-reduction, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // r18 one-tokenize shape: the feature stream collapses into ONE
    // (doc, target, bucket) count exchange that BOTH models consume —
    // it appears once per consumer in the static plan (AQE dedupes the
    // canonically-identical exchanges into one materialized stage at
    // runtime, measured as the tokenize pass running once, not twice).
    // Keyed stages: that shared exchange (×2 textual), the bucket-model
    // aggregate, the per-doc re-aggregate; distinct signatures ≤ 3.
    assert(keyedExchanges(plan) <= 4, s"${keyedExchanges(plan)} keyed:\n$plan")
    val sigs = "Exchange (hash|range)partitioning\\([^)]*\\)".r
      .findAllIn(plan).map(_.replaceAll("#\\d+[L]?", "")).toSeq
    assert(sigs.distinct.size <= 3, s"${sigs.distinct.size} distinct keyed:\n$plan")
    assert(sigs.size - sigs.distinct.size >= 1,
      s"expected the shared (doc,target,bucket) exchange to appear per consumer:\n$plan")
  }

  // r19 one-pass rewrites (q87/q167/q77): both consumers of the
  // per-(doc, block|chunk) pre-count aggregate must stay CANONICALLY
  // EQUAL below their exchange — that equality is the exact condition
  // for AQE to materialize the tokenize/chunk stage once (measured:
  // one 32-task stage whose shuffle output is read by both branches).
  // Column pruning breaks it silently (dropping an unused partial
  // buffer from one branch forks the subtrees), so the pin asserts the
  // physical condition itself, not a string shape.
  private def hasCanonicallySharedExchange(name: String): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = Queries.registry.find(_.name == name).get
    val sp = q.fn(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    sp.collect { case e: ShuffleExchangeExec => e.canonicalized }
      .groupBy(identity).exists(_._2.size >= 2)
  }

  test("q87/q167/q77 one-pass pre-counts: the tokenize exchange is shared") {
    for (n <- Seq("q87_boilerplate_scrub", "q167_cdc_dup_chunks",
        "q77_dup_block_ratio", "q127_vocab_coverage"))
      assert(hasCanonicallySharedExchange(n),
        s"$n: no canonically-equal exchange pair — the pre-count subtree " +
          "forked (column pruning?) and the corpus pays two tokenize passes")
  }

  test("q22 asof: one orders scan, day-grain window") {
    val plan = planOf("q22_asof_prev_spend")
    // day-grain rewrite (r19): the daily aggregate gathers each day's
    // order keys, lag(1) runs over DAY rows, explode restores order
    // grain — the second orders scan and the |orders|+|days| union
    // window are gone
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("Generate explode"), plan)
    assert(keyedExchanges(plan) <= 3, s"${keyedExchanges(plan)} keyed:\n$plan")
  }

  test("q145 BPE: pair mining over word types, TakeOrdered top-k") {
    val plan = planOf("q145_bpe_merges")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // word count + pair aggregate are the only keyed stages
    assert(keyedExchanges(plan) <= 2, s"${keyedExchanges(plan)} keyed:\n$plan")
  }

  test("q146 hard negatives: anchors broadcast, rank-limit pushed below the shuffle") {
    val plan = planOf("q146_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // WindowGroupLimit must trim each partition to its per-anchor top-k
    // BEFORE the qid exchange - the property that bounds the shuffle at
    // |anchors|*k rows per partition regardless of corpus size
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(keyedExchanges(plan) <= 2, s"${keyedExchanges(plan)} keyed:\n$plan")
  }

  test("q147 dataset card: document text never rides the distinct shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = Queries.registry.find(_.name == "q147_dataset_card").get
    val df = q.fn(spark, "/root/testdata/sf0.001")
    val sp = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // the conditional scan rebalance is ROUND-ROBIN and legitimately
    // carries text (it exists to spread the tokenize/md5 work of a
    // coarse local scan; a no-op on real multi-file inputs) — the pin
    // is about the KEYED aggregation shuffles
    val shuffles = sp.collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(e => !e.output.exists(_.name == "text")),
      s"text must not ride the dataset-card keyed shuffles:\n$sp")
  }

  test("loop tuning: width from volume, session isolation, kill switch") {
    import graft.operators.LoopCache
    // width grows with volume and caps at the cluster's parallelism
    val cores = spark.sparkContext.defaultParallelism
    assert(LoopCache.loopWidth(spark, 0L) == 1)
    assert(LoopCache.loopWidth(spark, 300000L) == 1)
    assert(LoopCache.loopWidth(spark, 300001L) == math.min(2, cores))
    assert(LoopCache.loopWidth(spark, 2390000L) == math.min(8, cores))
    // loop width caps at the cluster parallelism — the r18 spill guard
    // that grew it to 8×cores at huge volumes was A/B-measured as a
    // 1.7–2× regression at the sf10 replica and removed (SCALE.md §r19:
    // wider rounds reduce map-side combining and cannot reduce the round
    // join's spill, which scales with rows, not reduce width)
    assert(LoopCache.loopWidth(spark, Long.MaxValue / 2) == cores)
    // pairWidth (shared by LPA rounds + BM25 fan-out routing): never
    // below the floor, ~1M rows/task sizing, 64×cores ceiling
    assert(LoopCache.pairWidth(spark, 0L, floor = 3) == 3)
    assert(LoopCache.pairWidth(spark, 5000000L, floor = 1) == 5)
    assert(LoopCache.pairWidth(spark, Long.MaxValue / 2, floor = 1) == 64 * cores)
    // the tuned session is a clone: loop conf set there, parent untouched
    val tuned = LoopCache.loopSession(spark, 3)
    assert(tuned.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(tuned.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
    // memoized per (parent, width); pins made under it are visible to the
    // parent (shared CacheManager) — rebind round-trips the same plan
    assert(LoopCache.loopSession(spark, 3) eq tuned)
    val df = spark.range(10).toDF("id")
    val re = org.apache.spark.sql.graftbridge.SqlBridge.rebind(df, tuned)
    assert(re.sparkSession eq tuned)
    re.persist(); re.count()
    assert(LoopCache.cached(spark.range(10).toDF("id")),
      "a pin made under the tuned session must be visible to the parent")
    spark.range(10).toDF("id").unpersist(blocking = true)
  }

  test("generated code compiles once per JVM: a rebuilt loop clone recompiles nothing") {
    import graft.operators.{LoopCache, PageRank}
    import org.apache.spark.metrics.source.CodegenMetrics
    // artifact isolation would give every session (each loop clone) its
    // own class loader, and with it its own codegen cache
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L),
      (5L, 4L), (6L, 7L)).toDF("src", "dst")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val adj = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .groupBy(col("src"), col("outdeg"))
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
    def run() = PageRank.fixedPointAdj(adj, nodes, iterations = 3)
      .collect().map(_.toSeq).toSet
    // the reset every bench and Verify pass makes: the memo and its loop
    // clone go, so the second run builds a new clone
    def reset(): Unit = { spark.catalog.clearCache(); LoopCache.clearMemo() }
    reset()
    val first = run()
    reset()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    reset()
    assert(second == first)
    assert(compiled == 0, s"the second identical run compiled $compiled classes")
  }

  test("k-core adjacency round: node-sized exchanges only, stationary adjacency") {
    import graft.operators.LoopCache
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // mirror KCore.runAdj's round construction (round-13 fix: the
    // edge-layout peel re-shuffled the full edge table per round once
    // the alive set outgrew the broadcast estimate). Pin: a round's
    // live exchanges are ALL node-sized (loop width, over id/src keys),
    // and the adjacency operand reads its cache with no sort/exchange.
    val adj = (1L to 2000L)
      .map(i => (i, 2L, Array(i % 97L + 1L, i % 89L + 2L)))
      .toDF("src", "outdeg", "dsts")
    val w = 4
    val a = LoopCache.tunedInputs(w, adj).head
      .repartition(w, col("src")).sortWithinPartitions("src")
      .persist()
    a.count()
    val alive = a.select(col("src").as("id"), col("outdeg").as("degree"))
      .persist()
    alive.count()
    val kdf = broadcast(alive.agg(
      expr("CAST(sum(degree) * 3 DIV (count(1) * 4) AS BIGINT)").as("k")))
    val contrib = a.join(alive.select(col("id")), col("src") === col("id"))
      .select(explode(col("dsts")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val next = contrib
      .join(alive.select(col("id")), Seq("id"), "left_semi")
      .crossJoin(kdf).filter(col("degree") >= col("k"))
      .select(col("id"), col("degree"))
    val sp = next.queryExecution.executedPlan
    val live = sp.collect { case e: ShuffleExchangeExec => e }
    // every live exchange is either the 1-row threshold scalar
    // (SinglePartition, bounded by construction) or runs at the loop
    // width — and none carries the dsts array payload: the adjacency
    // never moves, only node-sized id/degree rows do
    val keyed = live.filterNot(_.outputPartitioning.numPartitions == 1)
    assert(keyed.nonEmpty && keyed.forall(_.outputPartitioning.numPartitions == w),
      s"round exchanges must be loop-width node-sized:\n$sp")
    assert(live.forall(e => !e.output.exists(_.name == "dsts")),
      s"adjacency payload must never ride a round exchange:\n$sp")
    a.unpersist(blocking = true)
    alive.unpersist(blocking = true)
  }

  test("loop-tuned PageRank round: one node-sized exchange, stationary adjacency") {
    import graft.operators.LoopCache
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    // mirror fixedPointAdj's round construction on a staged-style
    // adjacency and pin the physical shape the loop relies on: the
    // cached operand is already hash(src, w)-partitioned AND sorted, so
    // a round's ONLY live exchange is the node-sized contribution
    // aggregate — the adjacency never moves and never re-sorts
    val adj = (1L to 2000L)
      .map(i => (i, 2L, Array(i % 97L + 1L, i % 89L + 2L)))
      .toDF("src", "outdeg", "dsts")
    val w = 4
    val a = LoopCache.tunedInputs(w, adj).head
      .repartition(w, col("src")).sortWithinPartitions("src")
      .persist()
    a.count()
    val r1 = a.withColumn("r", lit(1000L))
      .select(expr("(r * 85L) div (100L * outdeg)").as("c"),
        explode(col("dsts")).as("dst"))
      .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      .select(col("dst").as("id"), (lit(1L) + col("contrib")).as("r"))
    val round2 = a.join(r1.hint("shuffle_hash"), col("src") === col("id"), "left")
      .withColumn("r", coalesce(col("r"), lit(7L)))
      .select(expr("(r * 85L) div (100L * outdeg)").as("c"),
        explode(col("dsts")).as("dst"))
      .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
    val sp = round2.queryExecution.executedPlan
    // static plan (AQE off in the tuned session): exchanges are directly
    // collectible. Live exchanges = ENSURE_REQUIREMENTS agg exchanges at
    // the loop width, one per round; the REPARTITION_BY_NUM exchange
    // inside InMemoryRelation's cached build plan is one-time, not live.
    val live = sp.collect { case e: ShuffleExchangeExec => e }
    assert(live.size == 2, s"2 rounds must shuffle exactly twice:\n$sp")
    assert(live.forall(_.outputPartitioning.numPartitions == w),
      s"loop exchanges must run at the derived width $w:\n$sp")
    // the rank side is never broadcast: a broadcast would be one more
    // job per round, and the unrolled loop must run as one job
    assert(sp.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"a round broadcast its rank side:\n$sp")
    // the adjacency enters each round's join straight from the cache: no
    // Sort and no Exchange above its InMemoryTableScan. The join is a
    // shuffled hash join building the node-sized rank side, which the
    // previous round's aggregate leaves hash(id, w)-partitioned, so
    // neither side is exchanged for it.
    def adjSide(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[org.apache.spark.sql.execution.SparkPlan] = p.collectFirst {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight
        => j.left
    }
    val side = adjSide(sp)
    assert(side.nonEmpty, s"expected a rank join:\n$sp")
    def cacheDirect(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case _: org.apache.spark.sql.execution.SortExec => false
        case _: ShuffleExchangeExec => false
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      }.getOrElse(false)
    assert(cacheDirect(side.get),
      s"adjacency side must read the cache with no sort/exchange:\n${side.get}")
    a.unpersist(blocking = true)
  }

  test("LSH mega-bucket cap: R-way dup groups below the cap yield full pair " +
    "sets; above it they are dropped — and exactDedup-first recovers them") {
    // The q44 growth pin (VERDICT r13 #7), semantics half. The measured
    // half is graft.tools.BucketCensus + SCALE.md round 14: on the
    // UNIFORM replica corpus kept-candidate pairs grow LINEARLY per
    // decade (3.6k→36k→365k at sf0.1→sf1→sf10, max bucket < 2^3), so
    // the next decade is predicted linear. On the SKEWED corpus 100-way
    // duplicate groups load buckets to 2^5–2^7 — below the 200 cap, so
    // their quadratic-in-group pair volume is kept (15M pairs, 41×
    // uniform). The cap's contract has one honest boundary, pinned
    // here: an EXACT-duplicate group larger than the cap shares the
    // same bucket in EVERY band (identical signatures), so "found via
    // other, more selective bands" cannot apply and the group is lost
    // to LSH — which is why the pipeline capstones (q56/q112) run
    // exactDedup BEFORE the LSH pass.
    import graft.operators.Dedup
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    def corpus(groupSize: Int) =
      (0 until groupSize).map(i => (i.toLong, text))
        .toDF("doc_id", "text")
    val sigs30 = Dedup.minHashSignatures(corpus(30), "doc_id", "text")
    // group below the cap: every unordered pair surfaces exactly once
    val below = Dedup.lshCandidatePairs(sigs30, "doc_id",
      maxBucketSize = 200)
    assert(below.count() == 30L * 29 / 2)
    // same group above the cap: every band's bucket is the same 30 ids,
    // so ALL pairs vanish — the documented exact-dup boundary
    val above = Dedup.lshCandidatePairs(sigs30, "doc_id",
      maxBucketSize = 20)
    assert(above.count() == 0)
    // the capstone ordering closes it: exactDedup first leaves one
    // survivor per text, nothing for LSH to lose
    val survivors = Dedup.exactDedup(corpus(30), "doc_id", "text")
    assert(survivors.count() == 1)
  }

  test("budgetSelect: the global running sum never collapses to one task") {
    val docs = (1L to 5000L).map(i => (i, i % 97 + 1, i % 1000))
      .toDF("id", "n_tokens", "score")
    val sel = graft.operators.Sampling.budgetSelect(
      docs, "id", "n_tokens", "score", 1, 2, numRanges = 16)
    sel.count() // materialize so AQE finalizes the executed plan
    val plan = sel.queryExecution.executedPlan.toString
    // the contract is a GLOBAL prefix sum, but the plan must express it
    // as range-partitioned windows + broadcast base offsets — a bare
    // Window.orderBy would show up as a SinglePartition exchange, the
    // shape that funnels a 100 TB corpus through one task
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition stage leaked into budgetSelect:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"range base offsets were not broadcast:\n$plan")
    graft.operators.LoopCache.clearMemo(); spark.catalog.clearCache()
  }

  /** Runs `body` with the given session confs, restoring the old values. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot join key: AQE splits the skewed shuffle-join partition, same rows") {
    // a third of the orders on customer 0 (the skewed replica's shape);
    // broadcast off so the skew reaches the shuffle, skew thresholds
    // scaled to the input so the probe-sized hot partition counts as
    // skewed, as the same key does at cluster scale with the defaults
    val orders = spark.range(0, 6000, 1, 8).select($"id".as("o_orderkey"),
      when($"id" % 3 === 0, 0L).otherwise($"id" % 200).as("o_custkey"),
      // hashed longs: incompressible enough to size the hot partition,
      // and summed exactly in any order
      pmod(xxhash64($"id"), lit(1000000007L)).as("o_totalprice"))
    val customer = spark.range(0, 200).select($"id".as("c_custkey"),
      concat(lit("seg"), ($"id" % 5).cast("string")).as("c_mktsegment"))
    def run(skewJoin: Boolean) = withConf(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> skewJoin.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256") {
      val agg = orders.join(customer, $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("rev"))
      // collect, not a noop write: only this frame's executed adaptive
      // plan carries the final skew-split join
      val rows = agg.collect().map(_.toString).sorted.toSeq
      (rows, agg.queryExecution.executedPlan.toString)
    }
    val (split, splitPlan) = run(skewJoin = true)
    val (plain, plainPlan) = run(skewJoin = false)
    assert(splitPlan.contains("skew=true"), splitPlan)
    assert(!plainPlan.contains("skew=true"), plainPlan)
    assert(split == plain)
    assert(split.size == 5)
  }

  test("hot prefix: SNM candidates stay within n*w and salted blocking " +
    "stays exact on a planted hot block") {
    import graft.operators.{FuzzyMatch, SortedNeighborhood}
    // 150 of 400 docs share one 57-char prefix and differ only in a
    // trailing number: one blocking key holds a 150-doc block whose
    // 11,175 pairs are all within the edit-distance cap
    val docs = (0L until 400L).map { i =>
      (i, if (i % 8 < 3) s"shared hot prefix marker text near duplicate body number $i"
        else s"doc $i " + (0 until 6).map(j => s"w${(i * 7 + j * 13) % 97}").mkString(" "))
    }.toDF("doc_id", "text")
    val n = docs.count()
    val w = 3
    val snm = SortedNeighborhood.candidates(docs, "doc_id", "text", windowSize = w)
    assert(snm.count() <= n * w)
    assert(snm.distinct().count() == snm.count())
    // the salted join spreads the hot block over g(g+1)/2 buckets and
    // still emits every pair once: equal to the unsalted join (g = 1)
    def pairs(g: Int) = FuzzyMatch.blockedPairs(docs, "doc_id", "text",
        saltGroups = g).as[(Long, Long, Int)].collect().sorted.toSeq
    val salted = pairs(8)
    assert(salted == pairs(1))
    assert(salted.size == 150 * 149 / 2)
    assert(salted.forall { case (a, b, _) => a < b && a % 8 < 3 && b % 8 < 3 })
  }

  test("hot day and hot hour: the sweep line splits to the hour or the " +
    "minute, rows equal to the flat path") {
    import graft.operators.SweepLine
    val n = 600L
    val day0 = unix_timestamp(lit("2026-08-10 00:00:00").cast("timestamp"))
    // every interval starts in one hot day (uniform over its 24 hours)
    // or one hot hour, plus a few intervals on 3 quiet days
    def corpus(hotSpan: Long) = spark.range(n).select(
        (day0 + ($"id" * 7919L) % hotSpan).cast("timestamp").as("st"),
        (day0 + ($"id" * 7919L) % hotSpan + 60L + $"id" % 3600L)
          .cast("timestamp").as("et"))
      .unionByName(spark.range(3).select(
        (day0 + lit(86400L) * ($"id" + 1L)).cast("timestamp").as("st"),
        (day0 + lit(86400L) * ($"id" + 1L) + 300L).cast("timestamp").as("et")))
    def run(iv: org.apache.spark.sql.DataFrame, threshold: Long) = {
      val out = SweepLine.dailyPeakConcurrency(iv, "st", "et", threshold)
      val rows = out.collect().map(_.toString).toSeq
      val plan = out.queryExecution.executedPlan.toString
      spark.catalog.clearCache(); graft.operators.LoopCache.clearMemo()
      (rows, plan)
    }
    for ((hotSpan, depth) <- Seq(86400L -> "hour#", 3600L -> "minute#")) {
      val iv = corpus(hotSpan)
      val (flat, flatPlan) = run(iv, Long.MaxValue)
      // one threshold, n/6: trips the day check in both corpora and the
      // hour check only when one hour holds the hot day
      val (nested, nestedPlan) = run(iv, n / 6)
      assert(nested == flat, s"hot span $hotSpan")
      assert(flat.size == 4)
      assert(!flatPlan.contains("hour#"), flatPlan)
      assert(nestedPlan.contains(depth), nestedPlan)
      if (depth == "hour#") assert(!nestedPlan.contains("minute#"), nestedPlan)
    }
  }

  test("hot stream entity: the denylist keeps its events out of the " +
    "interval join's state") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-08-10 09:00:00").getTime
    def at(sec: Long) = new Timestamp(t0 + sec * 1000L)
    // user 0 is the planted hot entity: 100 views and 100 clicks inside
    // one 10-minute window (10,000 joined pairs); users 1-20 are clean
    val events = (0 until 100).flatMap(i =>
        Seq((0L, at(i), "view"), (0L, at(i + 1), "click"))) ++
      (1 to 20).flatMap(u =>
        Seq((u.toLong, at(u), "view"), (u.toLong, at(u + 30), "click")))
    val deny = StreamingOps.hotEntities(
      events.toDF("user_id", "ts", "event_type"), "user_id", maxRate = 50)
    assert(deny.select("user_id").as[Long].collect().toSeq == Seq(0L))
    def run(denylist: Option[org.apache.spark.sql.DataFrame], name: String) = {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val s = mem.toDF().toDF("user_id", "ts", "event_type")
      val q = StreamingOps.intervalJoinStream(
          s.filter($"event_type" === "view"), s.filter($"event_type" === "click"),
          "user_id", "ts", denylist = denylist)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        mem.addData(events: _*)
        q.processAllAvailable()
        (spark.table(name).count(),
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()
    }
    val (guardedRows, guardedState) = run(Some(deny), "hot_entity_guarded")
    val (plainRows, plainState) = run(None, "hot_entity_plain")
    assert(plainRows == 10000L + 20L)
    assert(guardedRows == 20L)
    // the state holds the clean users' 40 events, never the hot user's 200
    assert(guardedState > 0 && guardedState <= 40L, guardedState)
    assert(plainState >= 200L, plainState)
  }
}

