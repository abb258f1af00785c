package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Physical-plan hygiene asserts — the properties that decide whether
  * a plan survives a 100× scale-up: predicates and projections must
  * reach the parquet scan, small dimension joins must broadcast, and
  * the rolling→EWMA pipeline must reuse one clustering instead of
  * shuffling twice.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def writeParquet(df: org.apache.spark.sql.DataFrame, name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name).toString + "/t"
    df.write.mode("overwrite").parquet(p)
    p
  }

  test("filter and projection push down to the parquet scan") {
    val p = writeParquet((1 to 1000).map(i => (i.toLong, i * 2.0, s"s$i", i % 7))
      .toDF("id", "v", "s", "grp"), "pushdown")
    val q = spark.read.parquet(p).filter($"id" > 500).select("id", "v")
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // the predicate reaches the reader as a data filter…
    assert(scans.head.dataFilters.nonEmpty,
      s"no pushed data filters in ${scans.head}")
    // …and the scan schema is pruned to the projected columns
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("id", "v"))
  }

  test("small dimension side broadcasts (no shuffle of the fact side)") {
    val facts = writeParquet((1 to 5000).map(i => (i.toLong % 50, i.toDouble))
      .toDF("dim_id", "v"), "facts")
    val dims = writeParquet((0L until 50L).map(i => (i, s"d$i")).toDF("dim_id", "name"), "dims")
    val joined = spark.read.parquet(facts)
      .join(broadcast(spark.read.parquet(dims)), "dim_id")
      .groupBy("name").agg(sum("v"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("contamination: benchmark window set broadcasts as a semi-join (corpus never shuffles)") {
    val corpus = writeParquet((1 to 500).map(i => (i.toLong, s"token$i alpha beta gamma delta"))
      .toDF("doc_id", "text"), "corpus")
    val bench = writeParquet(Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text"), "bench")
    val q = Dedup.contamination(spark.read.parquet(corpus), "doc_id", "text",
      spark.read.parquet(bench), "text", windowTokens = 4)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast semi-join on the benchmark window set:\n$plan")
    // the corpus side's only exchange is the count aggregation on the
    // (tiny) contaminated subset — the window-match itself is map-side
    assert(!plan.contains("SortMergeJoin"), s"corpus windows were shuffled for the join:\n$plan")
  }

  test("componentsStar rounds: neighborhood minima are partial-agg groupBy+join, never per-key windows") {
    // near-dup graphs converge TO stars — the root of a mega duplicate
    // cluster has degree = cluster size, so a min().over(partitionBy(u))
    // would ship the whole cluster to ONE task per round. The groupBy
    // form is map-side combinable and its join back is AQE-skew-splittable.
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("u", "v")
    for ((name, round) <- Seq(
        "largeStar" -> Dedup.largeStarRound(edges),
        "smallStar" -> Dedup.smallStarRound(edges))) {
      round.collect()
      val plan = round.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"),
        s"$name computes minima via a per-key window (single-task hot key at scale):\n$plan")
      assert(plan.contains("partial_min"),
        s"$name min lacks map-side partial aggregation:\n$plan")
      // the min join-back must be degree-split: hot keys' minima join
      // via broadcast (their rows never ride a shuffle) and the anti
      // join peels them off the cold path map-side — a plain shuffle
      // join here is NOT AQE-rescuable (the agg exchange fuses into
      // the join stage; measured in SkewBench, PERF.md round 8)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost the broadcast hot-minima join:\n$plan")
      assert(plan.contains("LeftAnti"),
        s"$name lost the map-side hot-key peel-off:\n$plan")
    }
  }

  test("substringWindowPairs: df is a partial-agg count, never a per-key window") {
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "shared license header line plus " + i else s"unique body $i text $i")).toDF("doc_id", "text")
    val q = Dedup.substringWindowPairs(docs, "doc_id", "text", windowTokens = 3, maxDf = 5)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"df computed via per-key window — boilerplate window hash becomes one task:\n$plan")
    assert(plan.contains("partial_count"),
      s"df count lacks map-side partial aggregation:\n$plan")
  }

  test("LineDedup: line-df is a partial-agg count on hashes; hot-set removal is a broadcast anti-join") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"unique line $i\nsubscribe to newsletter\nbody text $i"))
      .toDF("id", "text")
    val q = LineDedup.removeBoilerplate(docs, "id", "text", maxDf = 20)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"line df computed via per-key window — the boilerplate line funnels to one task:\n$plan")
    assert(plan.contains("partial_count"),
      s"line df lacks map-side partial aggregation:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"hot-line removal must be an anti-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the boilerplate-sized hot set should broadcast:\n$plan")
  }

  test("semDedup: no cartesian product; the cell self-join is an equi-join on the cell key") {
    val emb = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.semDedup(emb, emb.filter($"vec_id" < 4), "vec_id", "embedding", 0.4)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      s"semDedup pair generation degenerated to a cartesian product:\n$plan")
    assert(raw"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#".r
        .findFirstIn(plan).isDefined,
      s"cell self-join is not an equi-join keyed on cell:\n$plan")
    // seeds are literals, not a joined frame: the |corpus|×|seeds| fan
    // never materializes as a join, and nothing in semDedup needs a
    // window (the per-vector fast max is array_max, map-side)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"seed assignment joins the seed frame instead of using literals:\n$plan")
    assert(!plan.contains("Window"),
      s"semDedup should be window-free (fanned-frame max is the 100 TB killer):\n$plan")
    spark.catalog.clearCache() // semDedup persists intermediates
  }

  test("seed assignment: map-side array_max over seed literals — no window, no fanned-frame shuffle") {
    // the round-7 scale defect: max(fsim).over(partitionBy(id)) on the
    // |corpus|×|seeds| frame shuffled every corpus vector |seeds| times
    // WITH its embedding payload. The literal-seed form keeps vectors
    // in their map task; the only exchange is the slim groupBy argmax.
    val emb = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.assignCells(emb, emb.filter($"vec_id" < 4), "vec_id", "embedding")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"cell assignment uses a per-id window over the fanned frame:\n$plan")
    assert(!plan.contains("Join"),
      s"cell assignment joins the seed frame instead of using literals:\n$plan")
    // min over struct(−sim, cell) — the id-type-generic argmax form
    assert(plan.contains("partial_min"),
      s"argmax (min over (−sim, cell)) lacks map-side partial aggregation:\n$plan")
    // the embedding payload must not ride the argmax exchange — only
    // (id, sim, cell) may cross
    val exchanged = plan.linesIterator.filter(_.contains("Exchange"))
      .filter(_.contains("embedding#")).toSeq
    assert(exchanged.isEmpty,
      s"corpus vectors ride the assignment shuffle:\n${exchanged.mkString("\n")}")
  }

  test("IVF probe selection: map-side array_sort over centroid literals — only the top-k window remains") {
    // a query ranks all cells to pick its nProbe closest. Ranking via
    // posexplode + row_number().over(partitionBy(query_id)) shuffles a
    // |Q|×nCentroids frame that carries the query VECTOR on every row;
    // the array_sort(struct(-sim, cell)) form ranks inside the map task
    // and only the final exact top-k keeps a window (rewritten to
    // WindowGroupLimit). Locked for both the engine-seeded and the
    // data-seeded variants.
    val emb = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val variants = Seq(
      // ivfTopK ranks candidates once → exactly the top-k window
      ("ivfTopK", 1, Similarity.ivfTopK(emb.filter($"vec_id" < 6), emb,
        "vec_id", "embedding", dim = 8, k = 3, nCentroids = 4, nProbe = 2)),
      // the seeded refine's kth-fast-sim bound is a mergeable bottom-k
      // AGGREGATE since r22 (Similarity.kthValueBound) — only the final
      // exact-rank window remains
      ("ivfTopKSeeded", 1, Similarity.ivfTopKSeeded(emb.filter($"vec_id" < 6), emb,
        emb.filter($"vec_id" % 16 === 0), "vec_id", "embedding", k = 3, nProbe = 2)),
      // every other certified operator ends in the same refine: its
      // k-th bound is an aggregate, so only the exact-rank window remains
      ("bruteForceTopK exact", 1, Similarity.bruteForceTopK(emb.filter($"vec_id" < 6), emb,
        "vec_id", "embedding", k = 3, roundDp = -1, exact = true)),
      ("hardNegatives", 1, Similarity.hardNegatives(
        emb.filter($"vec_id" < 6).withColumn("label", $"vec_id" % 3),
        emb.withColumn("label", $"vec_id" % 3), "vec_id", "embedding", "label", k = 3)),
      ("lshTopKSeeded", 1, Similarity.lshTopKSeeded(emb.filter($"vec_id" < 6), emb,
        emb.filter($"vec_id" % 16 === 0), "vec_id", "embedding", k = 3)),
      ("quantizedTopK", 1, Similarity.quantizedTopK(emb.filter($"vec_id" < 6), emb,
        "vec_id", "embedding", k = 3)),
      ("pqTopK", 1, Similarity.pqTopK(emb.filter($"vec_id" < 6), emb,
        "vec_id", "embedding", k = 3, m = 4, ks = 4, iters = 1)))
    for ((name, expected, q) <- variants) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString()
      // AQE prints the initial and final plan, so dedupe Window nodes by
      // their spec with tree prefix and expression IDs stripped — only
      // the ranking windows over the (fast/exact) candidate sims may
      // remain; a probe-ranking window over per-cell sims must not
      val specs = plan.linesIterator.filter(_.contains("Window ["))
        .map(_.replaceAll("^.*?(?=Window \\[)", "").replaceAll("#\\d+", "")).toSet
      assert(specs.size === expected,
        s"$name: expected $expected distinct Windows (candidate top-k only), got " +
          s"${specs.size} — probe ranking shuffles the fanned frame:\n${specs.mkString("\n")}")
      assert(specs.forall(s => s.contains("sim DESC") || s.contains("_sim_fast DESC")),
        s"$name: unexpected window (probe ranking?):\n${specs.mkString("\n")}")
      // per-cell sims (_csim/_negs) may exist as map-side expressions
      // (assignment band dispatch) but must never be a window's key
      val cellSimWindows = plan.linesIterator
        .filter(l => l.contains("Window") && (l.contains("_csim") || l.contains("_negs"))).toSeq
      assert(cellSimWindows.isEmpty,
        s"$name: probe/assignment sims rank via a window:\n${cellSimWindows.mkString("\n")}")
    }
    spark.catalog.clearCache() // ivfTopKSeeded persists norm frames
    graft.core.OpCache.release(blocking = true)
  }

  test("frame sampling (q57 shape): zero clustering exchanges — only the final sort") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val q = graft.queries.Queries.q57FrameSample(spark, dir)
    q.collect()
    val shuffles = raw"Exchange hashpartitioning.*?\[plan_id=(\d+)\]".r
      .findAllMatchIn(q.queryExecution.executedPlan.toString())
      .map(_.group(1)).toSet.size
    assert(shuffles === 0,
      s"frame sampling should be a pure map-side fan-out before the sort, got $shuffles hash exchanges")
  }

  test("ordered per-row queries: the range exchange sits below the kernels, and is the only one") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    def onDocId(shape: graft.PlanDump.Shape): Boolean =
      shape.finalExchange.map(_.outputPartitioning).exists {
        case SinglePartition => true
        case r: RangePartitioning => r.ordering.headOption.exists(_.child match {
          case a: Attribute => a.name == "doc_id"
          case _ => false
        })
        case _ => false
      }
    // one exchange on doc_id over the raw scan columns (a single-
    // partition one at sf0.01, one task's worth): no sampling job runs
    // a kernel, and the final sort adds none
    for (name <- Seq("q18_text", "q48_pii_redact", "q82_quality_cascade",
        "q96_script_profile", "q150_kneser_ney_perplexity", "q155_pii_redact",
        "q157_html_normalize", "q171_luhn_redact", "q198_gopher_repetition",
        "q205_capped_repetition", "q209_main_content", "q210_main_content_blocks",
        "q213_web_pipeline", "q217_full_repetition")) {
      val q = graft.SparkEntry.queries(name)(spark, dir)
      q.collect()
      val shape = graft.PlanDump.shape(q.queryExecution.executedPlan)
      assert(shape.exchanges === 1, s"$name: $shape")
      assert(onDocId(shape), s"$name: the final exchange is not on doc_id: $shape")
      assert(!shape.computedBelow, s"$name: a computed projection runs below the exchange")
    }
    // the streaming twins' fixtures still come from the plain scan
    val docs = graft.core.Tables.documents(spark, dir)
    for (fixture <- Seq(graft.queries.Queries.repetitionCorpus(docs),
        graft.queries.Queries.mainContentCorpus(docs)))
      assert(graft.PlanDump.shape(fixture.queryExecution.executedPlan).exchanges === 0)
    graft.core.OpCache.release(blocking = true)
  }

  test("quantizedTopK: group-limit pushdown survives; survivor band is a broadcast join, not a window") {
    val emb = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 17 + d * 5) % 11).toFloat / 11f - 0.4f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizedTopK(emb.filter($"vec_id" < 10), emb,
      "vec_id", "embedding", k = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    // the kth-lower-bound pass must keep WindowGroupLimit: map tasks
    // retain only k rows per query BEFORE the window shuffle (an OR'd
    // band predicate in the rank filter would disable the rewrite and
    // sort every estimated pair — measured 2× whole-query cost on the
    // float path, same mechanics here)
    assert(plan.contains("WindowGroupLimit"),
      s"estimate pass lost the group-limit pushdown:\n$plan")
    // the |Q|×|C| estimate pass must touch BYTE arrays only — the 4×
    // data reduction is the operator's whole scale story. Column
    // pruning must strip the float vectors from the cached-relation
    // scans that feed the quantized pair join (they re-enter only at
    // the survivor-sized re-attach)...
    val mixedScans = plan.linesIterator
      .filter(l => l.contains("InMemoryTableScan")
        && (l.contains("_qq#") || l.contains("_cq#"))
        && (l.contains("_qv#") || l.contains("_cv#"))).toSeq
    assert(mixedScans.isEmpty,
      s"quantized pair scan reads float vectors alongside byte arrays:\n${mixedScans.mkString("\n")}")
    // ...and no estimate/bound expression may reference a float vector
    val vecInEstimate = plan.linesIterator
      .filter(l => l.contains("_est#")
        && (l.contains("_qv#") || l.contains("_cv#"))).toSeq
    assert(vecInEstimate.isEmpty,
      s"estimate pass computes over float vectors:\n${vecInEstimate.mkString("\n")}")
    spark.catalog.clearCache() // quantizedTopK persists intermediates
    graft.core.OpCache.release(blocking = true)
  }

  test("corpusDiff: the full-outer join carries digests only, never document bodies") {
    val v1 = writeParquet((1 to 300).map(i => (i.toLong, s"body text $i " * 20))
      .toDF("doc_id", "text"), "snapv1")
    val v2 = writeParquet((100 to 400).map(i => (i.toLong, s"body text $i " * 20))
      .toDF("doc_id", "text"), "snapv2")
    val q = Dedup.corpusDiff(
      spark.read.parquet(v1), spark.read.parquet(v2), "doc_id", "text")
    q.collect()
    // query-stage nodes hide their subtrees from collect(), so assert
    // on the printed plan (the established style in this suite)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    // the text column may appear only where the digest is COMPUTED
    // (the sha2 projection / the scan itself) — any other occurrence
    // means document bodies leaked past the map-side digest projection
    // into the sort/exchange/join
    val leaked = plan.linesIterator.filter(_.contains("text#"))
      .filterNot(l => l.contains("sha2(") || l.contains("FileScan") || l.contains("ReadSchema"))
      .toSeq
    assert(leaked.isEmpty,
      s"document bodies reached the join (should be digest-only):\n${leaked.mkString("\n")}")
  }

  test("rolling window + EWMA fold share ONE clustering exchange") {
    val df = (0 until 200).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 4)),
        s"k${i % 4}", (i % 10).toDouble, (i % 5).toDouble)
    }.toDF("date", "activity", "tss", "rpe_tss")
    val rolled = Rolling.withMonotonyStrain(df, "date", Seq("activity"),
      Seq("tss" -> "", "rpe_tss" -> "rpe_"))
    val out = Ewma.withTrainingLoadSorted(rolled, "date", Seq("activity"),
      Seq("tss" -> "", "rpe_tss" -> "rpe_"))
    out.collect()
    // exactly one hash-partitioning exchange: the window's. The EWMA
    // fold streams over the layout the window leaves behind. (AQE's
    // plan string prints the final AND initial plans, so count distinct
    // exchange node ids, not lines.)
    val shuffles = raw"Exchange hashpartitioning.*?\[plan_id=(\d+)\]".r
      .findAllMatchIn(out.queryExecution.executedPlan.toString())
      .map(_.group(1)).toSet.size
    assert(shuffles === 1, s"expected 1 clustering exchange, got $shuffles")
  }

  test("CDC chunking: pure map-side fold — zero clustering exchanges") {
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p")).toDF("doc_id", "text")
    val q = Chunker.chunkContentDefined(df, "doc_id", "text", divisor = 4)
    q.collect()
    val shuffles = raw"Exchange hashpartitioning.*?\[plan_id=(\d+)\]".r
      .findAllMatchIn(q.queryExecution.executedPlan.toString())
      .map(_.group(1)).toSet.size
    assert(shuffles === 0,
      s"content-defined chunking must not shuffle, got $shuffles hash exchanges")
  }

  test("count-min probe: sketch broadcasts; probes never shuffle to it") {
    import graft.functions.CountMin
    val toks = Seq.tabulate(200)(i => s"tok${i % 13}").toDF("tok")
    val sketch = toks.agg(CountMin.countMin(4, 64)($"tok").as("_cms"))
    val probes = Seq("tok1", "tok2", "tok3").toDF("tok")
    val q = probes.crossJoin(broadcast(sketch))
      .select($"tok", CountMin.estimate($"_cms", $"tok", 4, 64).as("est"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the one-row sketch must broadcast:\n$plan")
    val shuffles = raw"Exchange hashpartitioning.*?\[plan_id=(\d+)\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(shuffles === 0,
      s"probing a broadcast sketch must not hash-shuffle the probe side, got $shuffles")
  }

  test("LM perplexity scoring: model rides the plan — no join, no shuffle on the scoring path") {
    // since r22 the trained model is a plan-reference constant
    // (BigramLm) and scoring is one kernel projection — the plan must
    // carry NO join and NO exchange at all (the declarative
    // formulation with its broadcast joins survives as
    // LanguageModel.perplexityHof, spec-locked bit-identical)
    val docs = Seq.tabulate(300)(i => (i.toLong, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5}"))
      .toDF("doc_id", "text")
    val (bg, vocab) = LanguageModel.trainBigram(docs, "text")
    val q = LanguageModel.perplexity(docs, "doc_id", "text", bg, vocab)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"),
      s"kernel scoring must not join the model:\n${plan.take(3000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"kernel scoring must not shuffle:\n${plan.take(3000)}")
  }

  test("weighted sample: bottom-k partials reduce before the ONE group shuffle") {
    import graft.functions.BottomK
    val d = Seq.tabulate(500)(i => (s"lang${i % 3}", i.toLong * 37 % 1000, i.toLong))
      .toDF("lang", "k", "doc_id")
    val q = d.groupBy("lang").agg(BottomK.bottomK(5)($"k", $"doc_id").as("_s"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    // ObjectHashAggregate partial -> exchange -> final: the partial
    // aggregation keyword must appear BELOW the single exchange
    assert(plan.contains("ObjectHashAggregate"),
      s"typed bottom-k must run as an (object) hash aggregate:\n${plan.take(3000)}")
    // count distinct exchange nodes — AQE's toString repeats the
    // initial plan below the final one
    val shuffles = raw"Exchange hashpartitioning.*?\[plan_id=(\d+)\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(shuffles === 1,
      s"grouped sampling must shuffle once (≤k rows per partition-group), got $shuffles")
  }

  test("streaming near-dup banding: the minhash chain runs ONCE per row") {
    // the round-13 generator-shape regression lock: an expensive chain
    // inlined where bandHashes' lambda references it (3×/band) or
    // re-inlined by InferFiltersFromGenerate's size()>0 filter would
    // surface as extra graft_minhash occurrences in the optimized plan
    val docs = Seq((1L, new java.sql.Timestamp(0L), "a b c d e f g"))
      .toDF("doc_id", "ts", "text")
    val sigs = docs.select($"doc_id",
      NearDup.minhashSignature(NearDup.shingles($"text", 3), 32).as("_sig"))
    val state = NearDup.lshBands(sigs, "doc_id", "_sig", 8)
    val q = graft.streaming.StreamingNearDup.againstIndex(
      docs, state, docs, "doc_id", "ts", "text", threshold = 0.5)
    val plan = q.queryExecution.optimizedPlan.toString()
    // occurrences attributable to the DELTA side: total minus the two
    // static-side chains (index build + history verify shingles)
    val minhashCount = raw"graft_minhash".r.findAllIn(plan).size
    assert(minhashCount <= 2,
      s"delta minhash chain must be projected once, found $minhashCount " +
        s"graft_minhash nodes:\n${plan.take(4000)}")
  }

  test("k-means Lloyd rounds: the cell kernel runs ONCE per vector") {
    // a kernel in the same select as posexplode runs once per exploded
    // coordinate, and a null-cell filter on its alias is pushed down
    // as a second call: each round's optimized plan must hold the
    // kernel once, and never above the Generate
    val vecs = Seq.tabulate(12)(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 3 + j) % 7).toFloat))).toDF("vec_id", "embedding")
    val (_, plans) = graft.PlanDump.capturePlans(spark) {
      Similarity.kmeansCentroidsExact(vecs, "vec_id", "embedding", k = 3, iters = 2)
      Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
      Similarity.pqCodebooksExact(vecs, "vec_id", "embedding", dim = 4, m = 2, ks = 3, iters = 2)
    }
    val rounds = plans.filter(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]))
    assert(rounds.size === 8, s"2 + 2 + 2·2 Lloyd rounds expected, captured ${rounds.size}")
    for (p <- rounds) {
      val calls = p.flatMap(_.expressions.flatMap(_.collect {
        case k: graft.functions.Kernel if k.name.startsWith("graft_nearest_centroid") => k
      }))
      assert(calls.size === 1, s"one cell kernel per round, found ${calls.size}:\n$p")
      assert(!graft.PlanDump.aboveGenerators(p).exists(_.kernel),
        s"the cell kernel must be projected below the posexplode:\n$p")
    }
  }

  test("KL drift: totals broadcast; top-k is TakeOrdered, never a global sort") {
    val a = Seq.tabulate(300)(i => s"tok${i % 40} tok${(i + 1) % 40}").toDF("text")
    val b = Seq.tabulate(300)(i => s"tok${i % 35} tok${(i + 2) % 35}").toDF("text")
    val q = Drift.klDrift(a, b, "text", k = 10)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"drift top-k must be TakeOrdered (per-partition k + driver merge):\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the one-row totals/KL frames must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), s"no window belongs in drift:\n${plan.take(3000)}")
  }

  test("duplicatedWindowRatio: window df is partial-agg; membership is a semi-join, no window") {
    val docs = Seq.tabulate(200)(i =>
      (i.toLong, s"w${i % 9} w${(i + 1) % 9} w${(i + 2) % 9} w${(i + 3) % 9} w${(i + 4) % 9}"))
      .toDF("doc_id", "text")
    val q = Dedup.duplicatedWindowRatio(docs, "doc_id", "text", windowTokens = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"df must be a partial-agg groupBy, never a per-key window:\n${plan.take(3000)}")
    assert(plan.contains("LeftSemi"),
      s"duplicated-set membership must be a semi-join:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"window df lacks map-side partial aggregation:\n${plan.take(3000)}")
  }

  test("triangles: wedge generation and closing are joins over partial-agg degrees, no window") {
    val edges = (0L until 200L).flatMap(i => Seq((i, (i * 7 + 3) % 200), (i, (i + 1) % 200)))
      .toDF("a", "b")
    val q = Triangles.triangleCount(edges, "a", "b")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"degree-ordered counting needs no window:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"degrees lack map-side partial aggregation:\n${plan.take(3000)}")
    assert(plan.contains("LeftSemi"),
      s"closing edges must resolve via a semi-join:\n${plan.take(3000)}")
  }

  test("DSIR scoring: bucket models and totals broadcast; corpus n-grams never shuffle to the model") {
    val docs = Seq.tabulate(400)(i =>
      (i.toLong, s"w${i % 7} w${(i + 1) % 7} w${(i + 3) % 7} w${(i + 5) % 7}"))
      .toDF("doc_id", "text")
    val tc = Dsir.fitBucketCounts(docs.filter($"doc_id" % 4 === 0), "text", 256)
    val rc = Dsir.fitBucketCounts(docs.filter($"doc_id" % 4 =!= 0), "text", 256)
    val q = Dsir.importanceWeights(docs, "doc_id", "text", tc, rc, 256)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket-count model joins must broadcast (model-sized, ≤ buckets rows):\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the one-row totals frame must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus n-gram occurrences were shuffled to the model:\n${plan.take(3000)}")
  }

  test("ORC interchange (q140 shape): partition filter prunes directories, data filter pushes to stripes, scan schema pruned") {
    val base = java.nio.file.Files.createTempDirectory("orc_prune").toString + "/t"
    Interchange.writeOrc(
      (1 to 500).map(i => (i.toLong, i.toLong % 100, s"lang${i % 5}"))
        .toDF("id", "n", "lang"),
      base, Seq("lang"))
    val q = Interchange.readOrc(spark, base)
      .filter($"lang".isin("lang0", "lang1") && $"n" >= 50)
      .groupBy("lang").agg(sum("n").as("total"))
    q.collect()
    // AQE query stages hide subtrees from collect() — assert on the
    // printed plan (the established style in this suite)
    val plan = q.queryExecution.executedPlan.toString()
    val scanLine = plan.linesIterator.find(_.contains("FileScan orc"))
    assert(scanLine.isDefined, s"no ORC file scan in the plan:\n${plan.take(3000)}")
    val sl = scanLine.get
    // the lang predicate must prune at the DIRECTORY level (before a
    // byte is read)…
    assert(raw"PartitionFilters: \[[^\]]*lang".r.findFirstIn(sl).isDefined,
      s"lang filter did not become a partition filter:\n$sl")
    // …the n predicate must reach the ORC reader (stripe min-max skip)…
    assert(sl.contains("GreaterThanOrEqual(n,50)"),
      s"n >= 50 missing from PushedFilters:\n$sl")
    // …and the scan schema must exclude the unused id column
    assert(sl.contains("ReadSchema: struct<n:bigint>"),
      s"scan schema not pruned to the aggregated column:\n$sl")
  }

  test("ExactSubstr: window df is partial-agg, dup positions ride a semi-join, no corpus window") {
    val docs = (1 to 60).map(i =>
      (i.toLong, if (i % 2 == 0) "shared span alpha beta gamma delta " + i
        else s"unique body $i text number $i here")).toDF("doc_id", "text")
    val q = ExactSubstr.removeDuplicatedSpans(docs, "doc_id", "text", windowTokens = 4)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"span removal uses a window over corpus data:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"window df lacks map-side partial aggregation:\n${plan.take(3000)}")
    assert(plan.contains("LeftSemi"),
      s"duplicated positions must resolve via a semi-join:\n${plan.take(3000)}")
    spark.catalog.clearCache()
    graft.core.OpCache.release(blocking = true)
  }

  test("q134 ensemble dedup: both pair generators bounded — no all-pairs join anywhere") {
    // the round-13 weak: the semantic side was a vec_id<300-capped
    // BroadcastNestedLoopJoin over ALL vector pairs — O(n²) with the
    // cap removed. Recomposed on the SemDeDup cell pass; this assert
    // locks the recomposition: candidates come from the cell equi-join
    // (∝ Σ|cell|²) and the LSH band equi-join (∝ colliding bands).
    // componentsStar checkpoints between rounds (lineage truncates at
    // LogicalRDD), so the assert runs on the PAIR-GENERATION frames —
    // the subtrees where an all-pairs join could hide
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val embPairs = Similarity.cellPairs(emb, emb.filter($"vec_id" < 8),
      "vec_id", "embedding", threshold = 0.4)
    embPairs.collect()
    val ePlan = embPairs.queryExecution.executedPlan.toString()
    assert(!ePlan.contains("BroadcastNestedLoopJoin"),
      s"semantic pairs regained an all-pairs join:\n${ePlan.take(4000)}")
    assert(!ePlan.contains("CartesianProduct"),
      s"semantic pairs contain a cartesian product:\n${ePlan.take(4000)}")
    assert(raw"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#".r
        .findFirstIn(ePlan).isDefined,
      s"semantic pairs must come from the cell equi-join:\n${ePlan.take(4000)}")
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val textPairs = NearDup.nearDupPairs(docsDf, "doc_id", "text", threshold = 0.5)
    textPairs.collect()
    val tPlan = textPairs.queryExecution.executedPlan.toString()
    assert(!tPlan.contains("BroadcastNestedLoopJoin") && !tPlan.contains("CartesianProduct"),
      s"text pairs degenerated to an all-pairs join:\n${tPlan.take(4000)}")
    spark.catalog.clearCache() // cellPairs/nearDupPairs persist intermediates
    graft.core.OpCache.release(blocking = true)
  }

  test("phrase scan + token subsample: pure per-row projections — zero exchanges") {
    // a parquet scan, not a LocalRelation — local data constant-folds
    // the whole projection and leaves no stage to inspect
    val p = writeParquet((1 to 200).map(i => (i.toLong, s"word$i the and casino x$i"))
      .toDF("doc_id", "text"), "phrasescan")
    val df = spark.read.parquet(p)
    val scanned = PhraseFilter.tagBanned(df, "text", Seq("casino", "the and"))
    val sPlan = scanned.queryExecution.executedPlan.toString()
    assert(!sPlan.contains("Exchange"),
      s"AC phrase scan shuffled a per-row projection:\n$sPlan")
    // the kernel expressions stay INSIDE whole-stage codegen (the
    // `*(n)` stage markers) — a non-codegen expression here would
    // split the stage and interpret the hot path
    assert(sPlan.contains("*("),
      s"AC phrase scan fell out of whole-stage codegen:\n$sPlan")
    // subsample APPLY under a plan-constant model: the kernel rides a
    // reference object; nothing joins, nothing explodes
    val model = graft.functions.SubsampleKernel.toModel("s",
      Array("the", "and"), Array(0.5, 0.5))
    val applied = Subsample.applyModel(df, "doc_id", "text", model)
    val aPlan = applied.queryExecution.executedPlan.toString()
    assert(!aPlan.contains("Exchange"),
      s"subsample apply shuffled a per-row projection:\n$aPlan")
    assert(!aPlan.contains("Generate"),
      s"subsample apply explodes the token stream:\n$aPlan")
  }

  test("b-bit prefilter: estimate screens via slim signatures before the shingle verify join") {
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 25).map(t => s"d${i}_w$t").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = NearDup.bbitPrefilteredPairs(docs, "doc_id", "text", 0.5)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"b-bit pipeline degenerated to an all-pairs join:\n${plan.take(4000)}")
    assert(plan.contains("graft_bbit_est"),
      s"the 1-bit estimate filter is missing from the physical plan:\n${plan.take(4000)}")
    spark.catalog.clearCache()
    graft.core.OpCache.release(blocking = true)
  }

  test("stored IVF-PQ index (q201 shape): probe reads only probed cell directories") {
    val rnd = new scala.util.Random(31)
    val centers = Array.tabulate(4, 8)((c, d) => if (d / 2 == c) 4f else 0f)
    val corpus = (0 until 48).map { i =>
      val c = i % 4
      val v = if (i < 4) centers(c).toSeq
        else centers(c).map(x => x + (rnd.nextInt(17) - 8).toFloat / 8f).toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfpq_prune")
      .toString + "/idx"
    Similarity.writeIvfPqIndex(corpus, corpus.filter($"vec_id" < 4),
      "vec_id", "embedding", m = 4, dim = 8, path,
      bookSeeds = corpus.filter($"vec_id" >= 4 && $"vec_id" < 12))
    graft.core.OpCache.release(blocking = true)
    // one query, nProbe = 1 → exactly ONE of the 4 cell directories
    // may be touched by the codes scan. AQE wraps stages in leaf nodes
    // that hide the scan from collect() — turn it off for the
    // assertion (the pruning itself is a non-AQE planning property).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val q = Similarity.pqIvfTopKFromIndex(corpus.filter($"vec_id" === 20L),
        path, "vec_id", "embedding", k = 3, nProbe = 1)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val codesScan = scans.find(_.relation.location.rootPaths
      .exists(_.toString.contains("/codes")))
    assert(codesScan.isDefined,
      s"no codes-table scan found among ${scans.size} scans")
    // the probed-cell IN must land as a PARTITION filter on the scan…
    assert(codesScan.get.partitionFilters.exists(_.references
        .exists(_.name == "cell")),
      s"no cell partition filter: ${codesScan.get.partitionFilters}")
    // …and prune the read down to the single probed directory
    assert(codesScan.get.relation.location
        .listFiles(codesScan.get.partitionFilters, Nil).size === 1,
      "partition pruning did not reduce the codes read to nProbe=1 directory")
    graft.core.OpCache.release(blocking = true)
  }

  test("streaming IVF-PQ serve (q208 shape): each micro-batch plan prunes to probed cell directories") {
    val rnd = new scala.util.Random(37)
    val centers = Array.tabulate(4, 8)((c, d) => if (d / 2 == c) 4f else 0f)
    val corpus = (0 until 48).map { i =>
      val c = i % 4
      val v = if (i < 4) centers(c).toSeq
        else centers(c).map(x => x + (rnd.nextInt(17) - 8).toFloat / 8f).toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivfpq_stream")
      .toString
    val (path, in, out, chk) =
      (s"$base/idx", s"$base/in", s"$base/out", s"$base/chk")
    Similarity.writeIvfPqIndex(corpus, corpus.filter($"vec_id" < 4),
      "vec_id", "embedding", m = 4, dim = 8, path,
      bookSeeds = corpus.filter($"vec_id" >= 4 && $"vec_id" < 12))
    graft.core.OpCache.release(blocking = true)
    corpus.filter($"vec_id" === 20L).write.parquet(in)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    @volatile var prunedDirs = -1
    try {
      val stream = spark.readStream.schema(corpus.schema).parquet(in)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val q = Similarity.pqIvfTopKFromIndex(batch, path, "vec_id",
              "embedding", k = 3, nProbe = 1)
            q.write.mode("overwrite").parquet(s"$out/b$batchId")
            val scans = q.queryExecution.executedPlan.collect {
              case s: FileSourceScanExec => s }
            prunedDirs = scans.find(_.relation.location.rootPaths
                .exists(_.toString.contains("/codes")))
              .map(s => s.relation.location
                .listFiles(s.partitionFilters, Nil).size)
              .getOrElse(-1)
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      stream.awaitTermination()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(prunedDirs === 1,
      s"micro-batch codes read touched $prunedDirs directories (want 1)")
    graft.core.OpCache.release(blocking = true)
  }

  test("LR training round: one mergeable aggregation, gradients partial-agg") {
    val feats = (1 to 300).map(i =>
        (i.toLong, (i % 2).toDouble, Array(1.0, i / 100.0)))
      .toDF("id", "y", "x")
    val resid = $"y" - QualityLr.p9($"x", Array(0.1, -0.2))
    val g = feats.select(
      sum((resid * element_at($"x", 1)).cast("decimal(38,12)")).as("g0"),
      sum((resid * element_at($"x", 2)).cast("decimal(38,12)")).as("g1"))
    g.collect()
    val plan = g.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_sum"),
      s"gradient aggregation lacks map-side partials:\n$plan")
    assert(!plan.contains("Window"), s"gradient pass uses a window:\n$plan")
  }

  test("stored BM25 index (q219 shape): postings scan prunes to the query terms' bucket directories") {
    import spark.implicits._
    val vocab = Vector("spark", "join", "stream", "data", "row", "table")
    val rnd = new scala.util.Random(41)
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("invidx_prune")
      .toString + "/idx"
    val nBuckets = 8
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets)
    val terms = Seq("spark", "stream")
    val termBuckets = terms.toDF("term")
      .select(pmod(hash($"term"), lit(nBuckets))).distinct().count().toInt
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val q = Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, k = 5)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val postingsScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/postings")))
    assert(postingsScans.nonEmpty, s"no postings scan among ${scans.size}")
    postingsScans.foreach { sc =>
      // the probed-bucket IN must land as a PARTITION filter…
      assert(sc.partitionFilters.exists(_.references
          .exists(_.name == "bucket")),
        s"no bucket partition filter: ${sc.partitionFilters}")
      // …pruning the read to at most the terms' distinct buckets
      assert(sc.relation.location
          .listFiles(sc.partitionFilters, Nil).size <= termBuckets,
        "partition pruning did not reduce the postings read to the probed buckets")
    }
  }

  test("superseded BM25 index (q231 shape): the tombstone broadcast join keeps the bucket prune") {
    import spark.implicits._
    val vocab = Vector("spark", "join", "stream", "data", "row", "table")
    val rnd = new scala.util.Random(43)
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("invidx_tomb")
      .toString + "/idx"
    val nBuckets = 8
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" % 3 =!= 0L),
      "doc_id", "text", path, nBuckets)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" % 3 === 0L),
      "doc_id", "text", path)
    val terms = Seq("spark", "stream")
    val termBuckets = terms.toDF("term")
      .select(pmod(hash($"term"), lit(nBuckets))).distinct().count().toInt
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      val q = Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, k = 5)
      q.collect()
      q.queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val postingsScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/postings")))
    assert(postingsScans.nonEmpty, s"no postings scan among ${scans.size}")
    postingsScans.foreach { sc =>
      // the id-level tombstone join must NOT cost the partition
      // prune: the bucket IN sits on the scan, the join above it
      assert(sc.partitionFilters.exists(_.references
          .exists(_.name == "bucket")),
        s"no bucket partition filter under the tombstone join: " +
          s"${sc.partitionFilters}")
      assert(sc.relation.location
          .listFiles(sc.partitionFilters, Nil).size <= termBuckets,
        "tombstone join broke the probed-bucket prune")
    }
    // and the tombstone side really is a broadcast, never a shuffle
    // of the postings
    assert(plan.toString.contains("BroadcastHashJoin"),
      "tombstone supersede should be a broadcast hash join")
  }

  test("never-appended index (both tiers): no slice filter and no supersede join until the first append") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    // (committed-slice filter present, tombstone supersede join present)
    def manifestOps(plan: LogicalPlan): (Boolean, Boolean) = (
      plan.exists {
        case f: Filter => f.condition.references.exists(_.name == "_slice")
        case _ => false },
      plan.exists {
        case j: Join => j.output.exists(_.name == "_tg")
        case _ => false })

    val vocab = Vector("spark", "join", "stream", "data", "row", "table")
    val rnd = new scala.util.Random(47)
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val ipath = java.nio.file.Files.createTempDirectory("invidx_base")
      .toString + "/idx"
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 30L),
      "doc_id", "text", ipath, nBuckets = 4)
    def lexical() = manifestOps(Retrieval.bm25TopKFromIndex(spark, ipath,
      "doc_id", Seq("spark", "stream"), k = 5).queryExecution.optimizedPlan)
    assert(lexical() === ((false, false)))
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" > 30L),
      "doc_id", "text", ipath)
    assert(lexical() === ((true, true)))

    val centers = Array.tabulate(4, 8)((c, d) => if (d / 2 == c) 4f else 0f)
    val corpus = (0 until 48).map { i =>
      val v = if (i < 4) centers(i % 4).toSeq
        else centers(i % 4).map(x => x + (rnd.nextInt(17) - 8).toFloat / 8f).toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val apath = java.nio.file.Files.createTempDirectory("ivfpq_base")
      .toString + "/idx"
    Similarity.writeIvfPqIndex(corpus.filter($"vec_id" < 40),
      corpus.filter($"vec_id" < 4), "vec_id", "embedding", m = 4, dim = 8,
      apath, bookSeeds = corpus.filter($"vec_id" >= 4 && $"vec_id" < 12))
    def ann() = manifestOps(Similarity.pqIvfTopKFromIndex(
      corpus.filter($"vec_id" === 20L), apath, "vec_id", "embedding",
      k = 3, nProbe = 2).queryExecution.optimizedPlan)
    assert(ann() === ((false, false)))
    Similarity.appendToIvfPqIndex(corpus.filter($"vec_id" >= 40), apath,
      "vec_id", "embedding")
    assert(ann() === ((true, true)))
    graft.core.OpCache.release(blocking = true)
  }
}
