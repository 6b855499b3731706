package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression net: the scale properties the operators
  * claim (no Cartesian blow-ups, top-k instead of global sorts,
  * broadcast dimension joins) are asserted over the real plans so a
  * refactor can't silently regress them.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))

  test("no Filter re-evaluates a string-scan expression per lambda element") {
    // The pushdown-inlining trap class (BASELINE P.10): optimizer
    // rules (CollapseProject, InferFiltersFromGenerate, constraint
    // propagation) can substitute a staged HOF alias into a FILTER
    // condition, where an inner split/md5/regexp then re-runs per
    // array element — the O(L²)-per-row shape behind m09's 60 s and
    // m08's 750 s tasks. This audits EVERY registered query's physical
    // plan: no Filter (scan-pushed or standalone) may contain a
    // string-scan expression under a lambda. Projections may (that is
    // the staged, evaluated-once home for them); filters must consume
    // precomputed columns or materialized tables.
    import org.apache.spark.sql.catalyst.expressions._
    def scanUnderLambda(e: Expression, inLambda: Boolean): Boolean = e match {
      case _: StringSplit | _: Md5 | _: RegExpExtract | _: RegExpReplace
          if inLambda => true
      case f: HigherOrderFunction =>
        f.arguments.exists(scanUnderLambda(_, inLambda)) ||
          f.functions.exists(scanUnderLambda(_, inLambda = true))
      case _ => e.children.exists(scanUnderLambda(_, inLambda))
    }
    def filtersOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[Expression] = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec => Seq(f.condition)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.dataFilters
      // join conditions are per-row-PAIR evaluation sites the same
      // substitution can reach (generators are deliberately excluded:
      // a generator evaluates once per input row, and per-element
      // hashing there — one md5 per emitted gram — is the intended
      // work, not a re-evaluation)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.condition.toSeq
    }.flatten
    // positive control: the detector must FIRE on a deliberately
    // trapped plan (single-use split alias inlined into a filter
    // lambda by CollapseProject, then pushed by the generate's
    // inferred size>0 — the exact m09 shape), or this audit is a
    // net with a hole
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.{expr, explode}
      // over a real parquet scan — a literal local relation would be
      // constant-folded before any filter could be inferred
      val trapped = graft.Tables.documents(spark, sfDir)
        .select($"doc_id", $"text".as("s"))
        .select($"doc_id", expr("transform(split(s, ' '), c -> c)").as("bs"))
        .select($"doc_id",
          expr("filter(sequence(1, 3), p -> element_at(bs, p) = 'a')")
            .as("ps"))
        .select($"doc_id", explode($"ps"))
      val hits = filtersOf(trapped.queryExecution.sparkPlan)
        .filter(scanUnderLambda(_, inLambda = false))
      assert(hits.nonEmpty, "detector self-check: the planted " +
        "split-under-lambda filter was not flagged — audit is blind")
    }
    graft.pipeline.Dedup.invalidateCaches()
    graft.pipeline.Similarity.invalidateCaches()
    graft.pipeline.TextAnalysis.invalidateCaches()
    Memo.invalidate("m.")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val bad = filtersOf(qe.sparkPlan)
        .filter(scanUnderLambda(_, inLambda = false))
      assert(bad.isEmpty,
        s"$name evaluates a string scan per lambda element inside a " +
          s"Filter — the m08/m09 pushdown-inlining trap:\n" +
          bad.map(_.sql.take(300)).mkString("\n"))
    }
  }

  test("no registered query plans a CartesianProduct") {
    // d06 iterates to a data-dependent fixpoint at analysis time, so its
    // plan is the post-convergence projection — still covered here.
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("top-k searches use TakeOrderedAndProject, not a global sort") {
    Seq("r01_exact_match", "r02_semantic_knn", "r04_structured",
      "r07_comparison", "r09_explanatory", "r11_entity_specific",
      "q02_top_parts", "q03_shipping_priority").foreach { name =>
      assert(plan(name).contains("TakeOrderedAndProject"),
        s"$name lost its top-k physical operator")
    }
  }

  test("IVF centroid assignment aggregates map-side — no extra Window") {
    // the one Window left in an IVF plan is the final per-query top-k
    // (sort-based = spill-safe over unbounded candidate sets); cell
    // assignment and probe selection must stay hash aggregates. s11's
    // whole four-point sweep shares that ONE window too (per-row
    // conditional running counts over a single sort) — a regression to
    // per-sweep-point windows or intersects would show up here as >1.
    Seq("s02_ivf_knn", "s03_knn_join", "s04_ivf_kmeans").foreach { name =>
      val n = "\\bWindow\\b".r.findAllIn(plan(name)).size
      assert(n == 1, s"$name plans $n Window nodes, expected exactly 1")
    }
    // s11's plan composes the memoized exact/index ARTIFACTS, whose
    // cached build plans print inside InMemoryRelation and would skew
    // a text count — count the physical WindowExec nodes of the outer
    // plan instead (stops at InMemoryTableScan, per the same Spark 4.1
    // behavior the artifact specs rely on)
    val s11Windows = SparkEntry.queries("s11_nprobe_curve")(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.size
    assert(s11Windows == 1,
      s"s11 plans $s11Windows Window nodes, expected exactly 1 — " +
        "the four-point sweep must share one conditional-count window")
  }

  test("no registered query plans an unpartitioned Window") {
    // Window with an empty partitionSpec funnels every row through ONE
    // task — a single-executor sort at 100 TB. q14 (the one historical
    // offender) now computes its global rank via range partitioning +
    // per-partition offsets; any future global window must be rewritten
    // the same way or explicitly allowlisted here with a justification.
    val allowlist = Set.empty[String]
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowlist).foreach { name =>
        val global = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }
        assert(global.isEmpty,
          s"$name plans ${global.size} unpartitioned Window node(s) — " +
            "single-partition funnel at scale")
      }
  }

  test("fuzzy searches score via vocabulary accept sets — no per-row Levenshtein") {
    // the materialized-stats fuzzy path (r03/r07/r09/r10) computes its
    // accepted typo variants ONCE against the term vocabulary and
    // scores by exact codegen bm25_field set membership; a regression
    // that silently falls back to the bounded-Levenshtein scan would put
    // a per-(row x token x term) edit-distance band back into every
    // scoring pass — corpus-sized work at 100 TB. levenshtein() may
    // only appear in the vocab job, never in a registered scan plan,
    // and every bm25_field call scores set membership: its params hold
    // avgdl and T idfs, with no slot for an edit distance.
    import org.apache.spark.sql.catalyst.util.ArrayData
    Seq("r03_hybrid", "r07_comparison", "r09_explanatory",
      "r10_multi_intent").foreach { name =>
      val p = plan(name)
      assert(!p.toLowerCase.contains("levenshtein"),
        s"$name scores with per-row Levenshtein — vocab accept path lost")
      val scorers = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
          case b: graft.rass.expressions.Bm25Field => b
        })
      assert(scorers.nonEmpty, s"$name lost its codegen bm25_field scoring")
      scorers.foreach { b =>
        val t = b.accept.eval().asInstanceOf[ArrayData].numElements()
        val params = b.params.eval().asInstanceOf[ArrayData]
        assert(params.numElements() == 1 + t,
          s"$name scores ${b.tokens} with ${params.numElements()} params for $t terms")
      }
    }
  }

  test("fact-fact joins consume a per-order digest, not raw lineitem") {
    // q03/q04 aggregate lineitem by l_orderkey BELOW the orderkey join,
    // so the join (and its shuffle at production scale) moves ~|orders|
    // digest rows instead of raw lineitem — the difference between
    // shuffling the largest table in the schema and its key-side
    // summary. A refactor that re-joins first would pass the oracle
    // (the aggregation commutes) but regress the scale shape.
    Seq("q03_shipping_priority", "q04_region_revenue").foreach { name =>
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
      val opt = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan
      val preJoinAgg = opt.collect {
        case a: Aggregate
            if a.groupingExpressions.exists(
              _.references.exists(_.name == "l_orderkey")) &&
              a.collectFirst { case j: Join => j }.isEmpty => a
      }
      assert(preJoinAgg.nonEmpty,
        s"$name joins raw lineitem rows — per-order pre-aggregation lost")
    }
  }

  test("scans are pruned to required columns and filters reach parquet") {
    // a scan that reads all columns for a narrow projection multiplies
    // 100 TB of IO for nothing; these column sets are the contract
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scans(name: String): Seq[FileSourceScanExec] =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    def scanOf(name: String, table: String): FileSourceScanExec = {
      val hits = scans(name).filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(hits.nonEmpty, s"$name plans no $table scan")
      hits.head
    }
    // q01: seven lineitem columns, no keys; the shipdate filter pushed
    val q01 = scanOf("q01_pricing_summary", "lineitem")
    assert(q01.requiredSchema.fieldNames.toSet == Set("l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))
    assert(q01.metadata("PushedFilters").contains("l_shipdate"),
      "q01's date filter must reach the parquet reader")
    // q02: revenue digest needs exactly three lineitem columns
    assert(scanOf("q02_top_parts", "lineitem")
      .requiredSchema.fieldNames.toSet ==
      Set("l_partkey", "l_extendedprice", "l_discount"))
    // p01 reads only (doc_id, text) of documents
    assert(scanOf("p01_token_stats", "documents")
      .requiredSchema.fieldNames.toSet == Set("doc_id", "text"))
    // d01 fingerprints content only — no ids, no lang, no n_chars
    assert(scanOf("d01_exact_dedup", "documents")
      .requiredSchema.fieldNames.toSet == Set("text", "source"))
    // q11's tumbling windows touch three event columns
    assert(scanOf("q11_event_tumbling", "events")
      .requiredSchema.fieldNames.toSet == Set("ts", "event_type", "value"))
    // (the r02 embeddings scan is NOT asserted here: the corpus memo
    // legitimately serves it from an InMemoryRelation in a warm
    // session, hiding the parquet scan this test would inspect)
  }

  test("shuffle budgets hold for the headline single-table plans") {
    // data shuffles only — broadcasts are cheap by design. Budgets are
    // the plans' CURRENT shuffle counts; a regression that doubles a
    // shuffle (lost partial agg, re-partition creep) must fail loudly.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(name: String): Int =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.collect {
          case s: ShuffleExchangeExec => s
        }.size
    val budgets = Map(
      "q01_pricing_summary" -> 2, // partial→final agg, output sort
      "q02_top_parts" -> 1,       // partkey digest agg (top-k needs no sort exchange)
      "p01_token_stats" -> 1,     // output sort only: stats are per-row
      "r01_exact_match" -> 0,     // one scan + broadcast + TakeOrdered
      "r02_semantic_knn" -> 0,    // one scan + broadcast + TakeOrdered
      "q21_status_pivot" -> 3,    // (prio,status) agg → pivot agg → sort
      "q22_metrics_unpivot" -> 3, // distinct partial → final agg → sort
      "p13_freq_quality" -> 3,    // vocab agg, per-doc agg, output sort
      "q24_full_outer_reconcile" -> 3, // one agg exchange per side (reused
                                  // by the full-outer SMJ: join keys ==
                                  // groupBy keys), output sort
      "v03_dim_stats" -> 2,       // 64-key agg (map-side collapse), sort
      "p15_lexical_diversity" -> 3, // (doc,tok) agg, per-doc agg, sort
      "p17_winnowing" -> 1,       // pure per-row projection, output sort
      "m05_media_neardup" -> 8,   // frame-set distinct + counts recompute
                                  // per join side (cheap at this size;
                                  // d02's artifact policy is the lever
                                  // if frames ever get expensive)
      "q25_funnel" -> 7)          // distinct users + 3 stage aggs + sort;
                                  // stage joins broadcast the per-user
                                  // summaries at this scale
      // (p13's text column itself never shuffles: the doc side joins the
      // broadcast vocab straight off the scan, asserted below)
    budgets.foreach { case (name, budget) =>
      val n = shuffles(name)
      assert(n <= budget, s"$name plans $n data shuffles, budget $budget")
    }
  }

  test("p13 joins the vocabulary as a broadcast off the raw scan") {
    // the per-doc side must meet the top-V vocab in a BroadcastHashJoin
    // directly over the parquet scan — if the vocab ever stops
    // broadcasting, the exploded text column starts crossing the wire
    val p = plan("p13_freq_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"p13 lost its broadcast vocabulary join:\n$p")
  }

  test("s13's distance table and x07's artifact lists join as broadcasts") {
    // s13's whole point is that candidates meet a BROADCAST lookup
    // table (queries x 8 x 16 rows) — if the dt join ever degrades to
    // a shuffle, the 8-bytes-per-candidate scan property is gone
    val s13 = plan("s13_pq_adc")
    assert(s13.contains("BroadcastHashJoin"),
      s"s13 lost its broadcast distance-table join:\n$s13")
    // x07's drop lists are broadcast-sized stored artifacts; the card
    // must never shuffle the corpus against them
    val x07 = plan("x07_dataset_card")
    assert(x07.contains("BroadcastHashJoin"),
      s"x07 lost its broadcast artifact joins:\n$x07")
    assert(!x07.contains("SortMergeJoin"),
      s"x07 shuffles the corpus against a drop list:\n$x07")
  }

  test("p27 redaction is pure map-side — no hash exchange, text never shuffles") {
    // the only exchange a per-row scrub may plan is the presentation
    // sort's range partitioning; a hash exchange would mean text (or a
    // per-doc aggregate of it) crossed the wire
    val exchanges = SparkEntry.queries("p27_pii_redaction")(spark, sfDir)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning
      }
    assert(exchanges.forall {
        case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning => true
        case _ => false
      },
      s"p27 plans a non-presentation shuffle: $exchanges")
  }

  test("p28 Luhn redaction is pure map-side — only the presentation sort shuffles") {
    val exchanges = SparkEntry.queries("p28_luhn_redaction")(spark, sfDir)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning
      }
    assert(exchanges.forall {
        case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning => true
        case _ => false
      },
      s"p28 plans a non-presentation shuffle: $exchanges")
  }

  test("d11 rolls up the stored detector pair set — no live pair joins") {
    // force the durable pair-set artifact (first call builds+publishes)
    pipeline.Dedup.d11DetectorOverlap(spark, sfDir).collect()
    // the audit's own plan must be a rollup of the stored table: zero
    // physical joins on the OUTER plan (the detectors' joins live only
    // inside the artifact's build, behind InMemoryTableScan / parquet)
    val joins = SparkEntry.queries("d11_detector_overlap")(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.size
    assert(joins == 0,
      s"d11 plans $joins live joins — it must read the stored pair set")
  }

  test("df-caps aggregate map-side — partial count before the exchange, no Window") {
    // invalidate the memoized indexes so the audited plans contain the
    // live df-cap computation, not an InMemoryTableScan over it
    pipeline.Dedup.invalidateCaches()
    pipeline.TextAnalysis.invalidateCaches()
    Seq("d02_ngram_jaccard_pairs", "p18_fingerprint_overlap").foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      // the df-cap must be an aggregate (map-side partial combine
      // absorbs a hot key's skew), never a whole-partition window
      // (which pins every occurrence of one key into a single task)
      val windows = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"$name computes its df-cap through a Window: $windows")
      val partials = qe.sparkPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists(_.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.nonEmpty,
        s"$name has no partial aggregate before its exchange")
    }
    // m09 carries the same df-cap but also ONE legitimate window (the
    // per-pair best-offset pick, partitioned on the pair key); its
    // vote count and df-cap must still be partial-combining aggregates
    val m09qe = SparkEntry.queries("m09_audio_aligned_pairs")(spark, sfDir)
      .queryExecution
    val m09Windows = m09qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(m09Windows.size == 1,
      s"m09 should plan exactly the best-offset window: $m09Windows")
    assert(m09Windows.head.partitionSpec.nonEmpty,
      "m09's best-offset window lost its pair partitioning")
    val m09Partials = m09qe.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(m09Partials.size >= 2,
      s"m09 should partial-aggregate both the df-cap and the votes: " +
        s"${m09Partials.size}")
  }

  test("m07 reads the stored cluster artifact — no propagation stages") {
    // force the durable media-cluster artifact (builds+publishes if cold)
    pipeline.Multimodal.m06MediaClusters(spark, sfDir).collect()
    // CONSTRUCTING m07's frame must launch ZERO Spark jobs: the
    // pre-fix code ran the whole pair-derivation + star contraction
    // EAGERLY inside DataFrame construction and returned the result
    // behind a pinned LogicalRDD leaf — a plan the join/frame_md5
    // assertions below cannot distinguish from the artifact read
    // (round-16 review: the audit must pin the fix, not the plan
    // cosmetics). Spark legitimately runs a parquet schema-inference
    // job per spark.read (stages named at Tables.scala) — the invariant
    // here is that NO job touches the propagation engine: every eager
    // contraction action (the pair count, the per-alternation probe,
    // the label materialization) runs stages named at Dedup.scala
    var df: org.apache.spark.sql.DataFrame = null
    val descs = jobsDuring {
      df = SparkEntry.queries("m07_media_survivors")(spark, sfDir)
    }.filter(_.contains("Dedup.scala"))
    val jobs = descs.size
    assert(jobs == 0,
      s"building m07's frame launched $jobs propagation-engine jobs " +
        s"(${descs.mkString("; ")}) — it must be a lazy read " +
        "of the stored cluster table, not an eager recompute")
    val qe = df.queryExecution
    // the outer plan is exactly: stored labels ⋈ byte catalog, then the
    // cluster-keyed window/rollup — ONE join, and no frame-digest
    // stages anywhere (those live only inside the artifact's build)
    val joins = qe.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size
    assert(joins == 1,
      s"m07 plans $joins joins — it must read the stored cluster table")
    val p = qe.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("frame_md5"),
      s"m07's plan re-derives frame digests:\n$p")
  }

  test("star-schema dimension joins stay broadcast") {
    val p = plan("q04_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    // the lineitem-orders fact join is deliberately left to Catalyst's
    // size-based choice: broadcast at this test scale, shuffle join at
    // production scale — asserting either side here would pin the wrong
    // thing. The explicit broadcast() hints cover only true dimensions.
  }
}
