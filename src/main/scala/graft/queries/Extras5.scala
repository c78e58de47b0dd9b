package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators._

/** Round-8 continuation: partitioning/layout tooling and late additions.
  * Same oracle discipline as [[Extras4]].
  */
object Extras5 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dec2 = DecimalType(18, 2)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Pair-index roundtrip certification: read the SESSION'S shared
    // near-dup pair index (the parquet artifact every g/d/t-family
    // consumer reads, Shared.pairs → Dedup.writePairIndex/pairsFromIndex)
    // back and hash-match it against the same DuckDB minhash oracle that
    // certifies d02's from-scratch computation — proof the
    // persist-once/read-many path is value-identical to recomputing
    // (VERDICT r7 item 3).
    "g19_pair_index" -> { (s, dir) =>
      Shared.pairs(s, dir).orderBy(col("a"), col("b"))
    },

    // Backfill coverage matrix: per (partition, day), message counts
    // ZERO-FILLED from a bounds-derived day spine × the partition set —
    // the empty cells ARE the answer (where a replay/backfill must run).
    // q78's spine discipline at partition grain; the spine is
    // dimension-sized and broadcast.
    "k17_backfill_matrix" -> { (s, dir) =>
      val r = graft.sources.KafkaSource.replay(t(s, dir, "events"))
        .withColumn("day", date_trunc("day", col("timestamp")))
      val bounds = r.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 DAY"))).as("day"))
      val parts = r.select(col("partition")).distinct()
      val counts = r.groupBy(col("partition"), col("day"))
        .agg(count(lit(1)).as("n"))
      spine.crossJoin(parts)
        .join(counts, Seq("partition", "day"), "left")
        .select(col("partition"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_msgs"))
        .orderBy(col("partition"), col("day"))
    },

    // Lorenz curve at decile grain: cumulative revenue share of the
    // bottom-k/10 customers — q105's Gini drawn out as the curve an
    // analyst actually reads. Integer decile buckets (floor, never
    // ntile), exact decimal cumulative sums, micro-floored shares.
    "q106_lorenz_curve" -> { (s, dir) =>
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec2)).as("x"))
      val n = per.agg(count(lit(1)).as("n"))
      // Customer-dimension rank via the two-level block scan — a global
      // Window.orderBy here would rank ~1.5e9 customers in one task at
      // the 100 TB scale point (Packing.globalRowNumber scaladoc).
      val ranked = Packing
        .globalRowNumber(per, Seq("x", "o_custkey"), "rn", numBlocks = 32)
        .crossJoin(broadcast(n))
        .withColumn("decile", floor(col("rn") * 10 / col("n")).cast("int"))
      val g = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("rev"))
      g.withColumn("cum_rev", sum(col("rev")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum(col("rev")).over(Window.partitionBy()))
        .select(col("decile"), col("n_customers"),
          col("rev").cast("double").as("decile_revenue"),
          (floor(col("cum_rev").cast("double") * 1000000 /
            col("tot").cast("double") + 0.5).cast("long") /
            lit(1000000.0)).as("cum_share"))
        .orderBy(col("decile"))
    },

    // Filtered-ANN strategy audit: pre-filter exact truth vs the
    // post-filtered IVF top-k, per query — quantifies the recall
    // post-filtering silently loses when the attribute predicate is
    // selective (the classic filtered-vector-search design decision).
    // Predicate = same label as the query. One oracle certifies both
    // paths and the overlap accounting.
    "s43_filter_recall" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.filteredSearchRecall(e, e.filter(col("vec_id") % 100 === 0))
        .orderBy(col("query_id"))
    },

    // Attribute-aware IVF search — the remedy s43 motivates: the label
    // gate joins INSIDE the probe, so the top-k is ranked among
    // same-label candidates of the probed cells directly (vs s43's
    // post-filter keeping ~k/|labels| of an unfiltered list).
    "s44_filtered_ivf" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.filteredIvfSearch(e, e.filter(col("vec_id") % 100 === 0))
        .orderBy(col("query_id"), col("rank"))
    },

    // Point-in-time (PIT) join: every purchase fact picks the SCD2
    // dimension version (d28's build) valid AT the fact's timestamp —
    // the temporal-correctness join a feature store runs to avoid label
    // leakage from future attribute states. SCD2 versions tile each
    // key's timeline, so "covering interval" IS the backward as-of match
    // on valid_from (AsOfJoin's union+window scan — one sort shuffle,
    // never an interval product). Same-timestamp version churn collapses
    // to the LAST version first (as-of right times must be unique per
    // key — AsOfJoin scaladoc), mirrored in the oracle.
    "q107_pit_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val dim = TimeSeries.scdIntervals(ev, "user_id", "ts",
        Seq(col("ts"), col("event_id")), Seq("event_type"))
      val vw = Window.partitionBy(col("user_id"), col("valid_from_us"))
        .orderBy(col("version").desc)
      val dimv = dim.withColumn("__rn", row_number().over(vw))
        .filter(col("__rn") === 1)
        .select(col("user_id").as("d_user"),
          col("valid_from_us").as("vf"), col("version"),
          col("event_type").as("state"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("t_us"))
      AsOfJoin.leftAsOf(facts, dimv, "user_id", "t_us", "d_user", "vf",
          Seq("version", "state"))
        .select(col("event_id"), col("user_id"), col("version"),
          col("state"))
        .orderBy(col("event_id"))
    },

    // Per-dimension variance profile: each embedding dimension's
    // centered second moment (micro-exact integer sums) — which
    // dimensions carry signal and which are dead weight; the
    // dimension-level complement of s40's one-number summary, and the
    // input to any truncation decision (s22's matryoshka cascade).
    "s42_dim_variance" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val exploded = emb.select(col("vec_id").as("id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("idx", "comp")))
      // N rides the fold's own cnt — no standalone count() action, no
      // extra corpus scan. cnt is per-idx, which equals the oracle's
      // global count(*) under the repo's embedding contract (uniform
      // dimension, no null components); a ragged corpus would need the
      // explicit global count back
      val mean = Similarity
        .chunkedOrderedSum(exploded, Seq("idx"), "id", "comp", 256)
        .select(col("idx"), (col("s") / col("cnt")).as("m"), col("cnt"))
      exploded.join(broadcast(mean), "idx")
        .withColumn("sq",
          floor((col("comp") - col("m")) * (col("comp") - col("m")) *
            1000000 + 0.5).cast("long"))
        .groupBy(col("idx"))
        .agg((floor(sum(col("sq")).cast("double") / max(col("cnt")) + 0.5)
          .cast("long") / lit(1000000.0)).as("variance"))
        .orderBy(col("idx"))
    },

    // Gini coefficient of customer revenue concentration: the classic
    // inequality statistic from exact decimal sums and integer ranks —
    // G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over the customer dimension.
    // The "whale risk" number for any revenue (or token-contribution)
    // distribution; one closed double formula, micro-floored.
    "q105_revenue_gini" -> { (s, dir) =>
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec2)).as("x"))
      // 1-based rank from the two-level block scan (see q106) — never a
      // global window over the customer dimension.
      val ranked = Packing
        .globalRowNumber(per, Seq("x", "o_custkey"), "rn0", numBlocks = 32)
        .withColumn("rn", col("rn0") + 1L)
      ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("rn")).as("srx"))
        .select(col("n"),
          col("sx").cast("double").as("total_revenue"),
          (floor((lit(2.0) * col("srx").cast("double") /
            (col("n") * col("sx").cast("double")) -
            (col("n") + 1).cast("double") / col("n")) * 1000000 + 0.5)
            .cast("long") / lit(1000000.0)).as("gini"))
    },

    // Reach summary per seed: the g07 BFS levels rolled up — farthest
    // level reached, total nodes reached, and saturation (share of the
    // whole graph) — the small-world check that tells you how many hops
    // an influence/contamination walk actually needs.
    "g18_reach_summary" -> { (s, dir) =>
      val e = Shared.orderGraphEdges(s, dir)
      val nNodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .agg(count(lit(1)).as("n_graph"))
      Shared.khop3(s, dir)
        .groupBy(col("seed"))
        .agg(max(when(col("n_nodes") > 0, col("dist"))).as("max_dist"),
          sum(col("n_nodes")).as("n_reached"))
        .crossJoin(broadcast(nNodes))
        .select(col("seed"), col("max_dist"), col("n_reached"),
          (floor(col("n_reached").cast("double") * 1000000 /
            col("n_graph") + 0.5).cast("long") / lit(1000000.0))
            .as("saturation"))
        .orderBy(col("seed"))
    },

    // Cluster language purity: per near-dup cluster, how many languages
    // its members span and the majority-language share — d38's matrix
    // collapsed to the cluster grain (a pure cluster is template reuse;
    // a mixed one is translation).
    "t56_cluster_lang_purity" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = Shared.pairs(s, dir).select(col("a"), col("b"))
      val cl = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
      val j = cl.join(d.select(col("doc_id"), col("lang")), "doc_id")
      val lc = j.groupBy(col("cluster_id"), col("lang"))
        .agg(count(lit(1)).as("nl"))
      lc.groupBy(col("cluster_id"))
        .agg(sum(col("nl")).as("n_members"),
          count(lit(1)).as("n_langs"),
          max(col("nl")).as("n_majority"))
        .withColumn("purity",
          floor(col("n_majority").cast("double") * 1000000 /
            col("n_members") + 0.5).cast("long") / lit(1000000.0))
        .orderBy(col("n_members").desc, col("cluster_id"))
    },

    // Metric agreement audit: Spearman rank correlation between the
    // cosine and euclidean orderings of the full corpus per query —
    // exact integer rank diffs, one closed formula. Near 1 means the
    // cheaper metric can serve; divergence flags un-normalized vectors
    // (read with s32's norm histogram).
    "s41_metric_rank_corr" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val qn = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("vq"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("vc"))
      val scored = c.crossJoin(broadcast(qn))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", round(Similarity.dot(col("vq"), col("vc")) /
          (sqrt(Similarity.dot(col("vq"), col("vq"))) *
            sqrt(Similarity.dot(col("vc"), col("vc")))), 6))
        .withColumn("d2", round(Similarity.dist2(col("vq"), col("vc")), 6))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val wd = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      scored.withColumn("rc", row_number().over(wc))
        .withColumn("rd", row_number().over(wd))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_ranked"),
          sum((col("rc") - col("rd")).cast("long") *
            (col("rc") - col("rd"))).as("sd2"))
        .select(col("query_id"), col("n_ranked"),
          (floor((lit(1.0) - (col("sd2") * 6).cast("double") /
            (col("n_ranked").cast("double") *
              (col("n_ranked") * col("n_ranked") - 1))) * 1000000 + 0.5)
            .cast("long") / lit(1000000.0)).as("spearman_rho"))
        .orderBy(col("query_id"))
    },

    // Chi-square independence test: market segment × order priority —
    // observed vs expected from exact integer margins, χ² as one closed
    // double formula summed in micro-units (order-free), plus degrees of
    // freedom. The categorical-dependence screen of the stats battery.
    "q104_chi_square" -> { (s, dir) =>
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      val obs = j.groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("o"))
      val rm = obs.groupBy(col("c_mktsegment")).agg(sum(col("o")).as("rt"))
      val cm = obs.groupBy(col("o_orderpriority"))
        .agg(sum(col("o")).as("ct"))
      val tot = obs.agg(sum(col("o")).as("n"))
      val cells = obs.join(broadcast(rm), "c_mktsegment")
        .join(broadcast(cm), "o_orderpriority")
        .crossJoin(broadcast(tot))
        .withColumn("e",
          col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("chim",
          floor((col("o") - col("e")) * (col("o") - col("e")) / col("e") *
            1000000 + 0.5).cast("long"))
      cells.agg(count(lit(1)).as("n_cells"),
          sum(col("chim")).as("sm"),
          countDistinct(col("c_mktsegment")).as("nr"),
          countDistinct(col("o_orderpriority")).as("nc"))
        .select(col("n_cells"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
          (col("sm").cast("double") / lit(1000000.0)).as("chi_square"))
    },

    // Inference batch shaping for media payloads: the t17 two-level
    // prefix-sum scan applied to payload BYTES — each payload's batch is
    // floor(running_bytes / 4096), so batches hold ~4 KB regardless of
    // payload size mix (the GPU-feeding shape for a decode fleet). No
    // global window; blocks scan via Packing.exclusivePrefixSum.
    "m21_batch_shaping" -> { (s, dir) =>
      val p = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("nb"))
      Packing.exclusivePrefixSum(p, "doc_id", "nb")
        .withColumn("batch_idx", floor(col("start") / 4096).cast("long"))
        .groupBy(col("batch_idx"))
        .agg(count(lit(1)).as("n_payloads"), sum(col("nb")).as("n_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("batch_idx"))
    },

    // Consumer-assignment planning: the topic's 8 partitions mapped to 3
    // consumers under BOTH standard strategies — range (contiguous
    // blocks, floor(p·C/P)) and round-robin (p mod C) — with per-
    // consumer message loads and the ratio to uniform. The report that
    // picks the assignor before a consumer group deploys.
    "k16_consumer_assignment" -> { (s, dir) =>
      import s.implicits._
      val load = graft.sources.KafkaSource
        .replay(t(s, dir, "events"))
        .groupBy(col("partition")).agg(count(lit(1)).as("n_msgs"))
      val strategies = Seq("range", "round_robin").toDF("strategy")
      load.crossJoin(broadcast(strategies))
        .withColumn("consumer",
          when(col("strategy") === "range",
            floor(col("partition") * 3 / 8).cast("int"))
            .otherwise((col("partition") % 3).cast("int")))
        .groupBy(col("strategy"), col("consumer"))
        .agg(count(lit(1)).as("n_partitions"),
          sum(col("n_msgs")).as("n_msgs"))
        .withColumn("ratio_to_uniform",
          floor(col("n_msgs").cast("double") * 3000000 /
            sum(col("n_msgs")).over(Window.partitionBy(col("strategy")))
            + 0.5).cast("long") / lit(1000000.0))
        .orderBy(col("strategy"), col("consumer"))
    },

    // k-anonymity audit over quasi-identifiers: cells of the
    // (source, lang, length-bucket) cross-tab with fewer than k=5
    // members re-identify their documents — the pre-release privacy
    // check a dataset card should quote. Exact integer cell counts.
    "t55_k_anonymity" -> { (s, dir) =>
      val cells = t(s, dir, "documents")
        .withColumn("len_bucket",
          floor(col("n_chars") / 100).cast("long"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n"))
      cells.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_cells"),
          count(when(col("n") < 5, 1)).as("n_risky_cells"),
          coalesce(sum(when(col("n") < 5, col("n"))), lit(0L))
            .as("n_docs_at_risk"),
          min(col("n")).as("min_cell_size"))
        .orderBy(col("lang"))
    },

    // Candidate-pair forensics: WHICH LSH bands matched each confirmed
    // near-dup pair — the drill-down that explains a surprising match
    // (one-band hits are borderline; four-band hits are exact-ish
    // duplicates). Top pairs by signature agreement; the band list is a
    // deterministic sorted csv.
    "d43_pair_explain" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = Shared.pairs(s, dir)
      val sigs = Dedup.minhashSignatures(d.repartition(col("doc_id")))
      val bandsL = Dedup.minhashBands(sigs)
        .select(col("doc_id").as("a"), col("band_idx"), col("band_val"))
      val bandsR = bandsL.select(col("a").as("b"),
        col("band_idx"), col("band_val"))
      val matched = bandsL.join(bandsR, Seq("band_idx", "band_val"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(concat_ws(",", array_sort(collect_set(col("band_idx"))))
          .as("bands_matched"),
          count(lit(1)).as("n_bands"))
      pairs.join(matched, Seq("a", "b"))
        .withColumn("rk", row_number().over(Window
          .orderBy(col("n_eq").desc, col("a"), col("b"))))
        .filter(col("rk") <= 20)
        .select(col("rk").as("rank"), col("a"), col("b"), col("n_eq"),
          col("n_bands"), col("bands_matched"))
        .orderBy(col("rank"))
    },

    // Variance explained by the top component: s39's Rayleigh scale over
    // the total variance (per-dimension centered second moments summed
    // as exact micro-integers) — the one number that says whether the
    // embedding space is effectively low-rank (anisotropy collapse, a
    // known failure of contrastive training runs).
    "s40_variance_explained" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val lambda = Similarity.powerIteration(emb)
        .agg(max(col("raynorm")).as("lambda"))
      val exploded = emb.select(col("vec_id").as("id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("idx", "comp")))
      // N rides the fold's own cnt — no standalone count() action, no
      // extra corpus scan. cnt is per-idx, which equals the oracle's
      // global count(*) under the repo's embedding contract (uniform
      // dimension, no null components); a ragged corpus would need the
      // explicit global count back
      val mean = Similarity
        .chunkedOrderedSum(exploded, Seq("idx"), "id", "comp", 256)
        .select(col("idx"), (col("s") / col("cnt")).as("m"), col("cnt"))
      val tot = exploded.join(broadcast(mean), "idx")
        .withColumn("sq",
          floor((col("comp") - col("m")) * (col("comp") - col("m")) *
            1000000 + 0.5).cast("long"))
        .agg((floor(sum(col("sq")).cast("double") / max(col("cnt")) + 0.5)
          .cast("long") / lit(1000000.0)).as("total_var"))
      lambda.crossJoin(broadcast(tot))
        .select(col("lambda"), col("total_var"),
          (floor(col("lambda") * 1000000 / col("total_var") + 0.5)
            .cast("long") / lit(1000000.0)).as("explained_ratio"))
    },

    // Top principal component by deterministic power iteration: PCA's
    // first direction computed on Catalyst alone — micro-integerized
    // contribution sums (order-free), fixed-order norm folds, three
    // unrolled iterations in the oracle. The embedding-drift /
    // whitening primitive without any linear-algebra runtime.
    "s39_power_iteration" -> { (s, dir) =>
      Similarity.powerIteration(t(s, dir, "embeddings"))
        .orderBy(col("i"))
    },

    // Multi-grain time rollup in ONE pass: day/week/month aggregates via
    // GROUPING SETS over pre-derived truncations, grain identified
    // structurally by grouping() (q95's discipline) — the BI-extract
    // pattern that replaces three scans with one.
    "q103_multi_grain" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        WITH e AS (SELECT
            CAST(date_trunc('day', ts) AS TIMESTAMP_NTZ) AS day,
            CAST(date_trunc('week', ts) AS TIMESTAMP_NTZ) AS week,
            CAST(date_trunc('month', ts) AS TIMESTAMP_NTZ) AS month,
            value
          FROM events)
        SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                    WHEN grouping(week) = 0 THEN 'week'
                    ELSE 'month' END AS grain,
          coalesce(day, week, month) AS bucket,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM e GROUP BY GROUPING SETS ((day), (week), (month))
        ORDER BY grain, bucket""")
    },

    // Bucket-cap tuning curve: the LSH candidate and confirmed-pair
    // counts at maxBucket ∈ {50, 100, 200} — the cap is the knob that
    // bounds a hot boilerplate bucket's quadratic blowup, and this is
    // the table that shows what recall it buys/costs BEFORE a 100 TB
    // run commits to one. Three runs of the certified pair chain.
    "d42_cap_sweep" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val rows = Seq(50, 100, 200).map { cap =>
        Dedup.minhashPairs(d, maxBucket = cap,
            capMetricName = s"minhash_bands_cap_$cap")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("max_bucket", lit(cap))
      }
      rows.reduce(_ unionByName _)
        .select(col("max_bucket"), col("n_pairs"))
        .orderBy(col("max_bucket"))
    },

    // Join-key skew scan: the pre-flight that decides whether a join
    // needs salting (Skew.scala) — per hot key: frequency, share of the
    // fact table, and the ratio to the uniform expectation. Exact
    // integers; one key aggregation + a key-dimension-sized ranking.
    "q102_skew_detector" -> { (s, dir) =>
      val g = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val tot = g.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"))
      // Top-10 as sort+limit (TakeOrderedAndProject: per-partition
      // top-k, merge on the driver) — never rank-all-then-filter, which
      // ranks the whole key dimension in one task. The rank window then
      // runs over the 10 surviving rows only.
      g.orderBy(col("n").desc, col("o_custkey")).limit(10)
        .crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("o_custkey"))))
        .select(col("rk").as("rank"), col("o_custkey"), col("n"),
          (floor(col("n").cast("double") * 1000000 / col("total") + 0.5)
            .cast("long") / lit(1000000.0)).as("share"),
          (floor(col("n").cast("double") * col("n_keys") * 1000000 /
            col("total") + 0.5).cast("long") / lit(1000000.0))
            .as("ratio_to_uniform"))
        .orderBy(col("rank"))
    },

    // Equi-depth range-partition splits: the 7 cut points that divide
    // the price distribution into 8 equal-count ranges — what a range
    // partitioner / bucketing layout needs BEFORE writing a 100 TB
    // sort. Computed exactly from the (distinct value → count)
    // distribution: the cumulative window runs over distinct values,
    // never the fact rows, and the rank test is an integer
    // cross-compare (cum·8 ≥ i·total), no interpolation.
    "q101_range_splits" -> { (s, dir) =>
      // The cumulative count runs over DISTINCT price values — an
      // SF-LINEAR frame (prices multiply with the part dimension), so
      // like q88 it rides Packing's two-level block scan, never one
      // global window; the grand total is a broadcast 1-row aggregate.
      // localCheckpoint: the block scan's range-boundary sampling would
      // otherwise re-execute the distinct-value aggregation
      val g = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast(dec2).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      // grand total via totCol: it rides the block summary instead of a
      // second full scan of the lineitem aggregation
      val cum = Packing.exclusivePrefixSumBy(g, Seq(col("v")), "c", "excl",
          totCol = Some("total"))
        .withColumn("cum", col("excl") + col("c"))
      import s.implicits._
      val idx = (1 to 7).toDF("split_idx")
      cum.crossJoin(broadcast(idx))
        .filter(col("cum") * 8 >= col("split_idx") * col("total"))
        .groupBy(col("split_idx"))
        .agg(min(col("v")).cast("double").as("split_value"))
        .orderBy(col("split_idx"))
    })

  /** Shared by s39/s40: the centered power-iteration chain through v3
    * (label-free s05 mean fold, three unrolled iterations, micro-integer
    * contribution sums, fixed-order norm folds). */
  private[queries] val PowerCtes: String = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      x AS (SELECT vec_id, t.i, v[t.i] AS comp
            FROM e, unnest(generate_series(1, len(v))) AS t(i)),
      p AS (SELECT i, vec_id // 256 AS chunk,
              list_reduce(list(comp ORDER BY vec_id), (a, b) -> a + b)
                AS ps, count(*) AS cnt
            FROM x GROUP BY i, chunk),
      m AS (SELECT i,
              list_reduce(list(ps ORDER BY chunk), (a, b) -> a + b)
                / CAST(sum(cnt) AS BIGINT) AS mean
            FROM p GROUP BY i),
      mu AS (SELECT list(mean ORDER BY i) AS mu FROM m),
      xc AS (SELECT vec_id,
          list_transform(list_zip(v, mu), q -> q[1] - q[2]) AS xc
        FROM e, mu),
      nv AS (SELECT count(*) AS n FROM e),
      v0 AS (SELECT list_transform(generate_series(1, 64),
          i -> 0.125) AS varr),
      d1 AS (SELECT xc.vec_id, list_dot_product(xc.xc, v0.varr) AS d,
          xc.xc FROM xc, v0),
      c1 AS (SELECT t.i,
          CAST(floor(d * xc[t.i] * 1000000 + 0.5) AS BIGINT) AS cm
        FROM d1, unnest(generate_series(1, 64)) AS t(i)),
      s1 AS (SELECT i, CAST(sum(cm) AS BIGINT) AS w FROM c1 GROUP BY i),
      w1 AS (SELECT list(CAST(w AS DOUBLE) / 1000000.0 ORDER BY i)
          AS warr FROM s1),
      n1 AS (SELECT warr, sqrt(list_reduce(list_prepend(0.0,
          list_transform(warr, x -> x * x)), (a, b) -> a + b)) AS nrm
        FROM w1),
      v1 AS (SELECT list_transform(warr, x -> round(x / nrm, 6)) AS varr,
          round(nrm / n, 6) AS raynorm FROM n1, nv),
      d2 AS (SELECT xc.vec_id, list_dot_product(xc.xc, v1.varr) AS d,
          xc.xc FROM xc, v1),
      c2 AS (SELECT t.i,
          CAST(floor(d * xc[t.i] * 1000000 + 0.5) AS BIGINT) AS cm
        FROM d2, unnest(generate_series(1, 64)) AS t(i)),
      s2 AS (SELECT i, CAST(sum(cm) AS BIGINT) AS w FROM c2 GROUP BY i),
      w2 AS (SELECT list(CAST(w AS DOUBLE) / 1000000.0 ORDER BY i)
          AS warr FROM s2),
      n2 AS (SELECT warr, sqrt(list_reduce(list_prepend(0.0,
          list_transform(warr, x -> x * x)), (a, b) -> a + b)) AS nrm
        FROM w2),
      v2 AS (SELECT list_transform(warr, x -> round(x / nrm, 6)) AS varr,
          round(nrm / n, 6) AS raynorm FROM n2, nv),
      d3 AS (SELECT xc.vec_id, list_dot_product(xc.xc, v2.varr) AS d,
          xc.xc FROM xc, v2),
      c3 AS (SELECT t.i,
          CAST(floor(d * xc[t.i] * 1000000 + 0.5) AS BIGINT) AS cm
        FROM d3, unnest(generate_series(1, 64)) AS t(i)),
      s3 AS (SELECT i, CAST(sum(cm) AS BIGINT) AS w FROM c3 GROUP BY i),
      w3 AS (SELECT list(CAST(w AS DOUBLE) / 1000000.0 ORDER BY i)
          AS warr FROM s3),
      n3 AS (SELECT warr, sqrt(list_reduce(list_prepend(0.0,
          list_transform(warr, x -> x * x)), (a, b) -> a + b)) AS nrm
        FROM w3),
      v3 AS (SELECT list_transform(warr, x -> round(x / nrm, 6)) AS varr,
          round(nrm / n, 6) AS raynorm FROM n3, nv)"""

  val oracles: Map[String, String] = Map(

    // Identical to d02's oracle by design: the roundtripped index must
    // hash-match what recomputing from the corpus produces.
    "g19_pair_index" -> s"""
      WITH ${NorthStar.MinhashCtes}
      SELECT a, b, n_eq, CAST(n_eq AS DOUBLE) / 16 AS est_jaccard
      FROM pairs WHERE n_eq * 100 >= 800 ORDER BY a, b""",

    // Both paths unrolled: the pre-filtered exact truth (label gate
    // before the cosine), the s03-shaped IVF top-k post-filtered by the
    // same gate, and the per-query overlap accounting.
    "s43_filter_recall" -> """
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
            WHERE vec_id % 50 = 0),
      s AS (SELECT e.vec_id, c.centroid_id,
          round(list_reduce(list_transform(list_zip(e.v, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6) AS d2
        FROM e, c),
      a AS (SELECT vec_id, centroid_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, centroid_id) AS rn FROM s) WHERE rn = 1),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM e),
      q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      ts AS (SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
          round(list_dot_product(q.v, c2.v) / (q.nrm * c2.nrm), 6)
            AS cosine
        FROM q JOIN n c2 ON c2.label = q.label
        WHERE c2.vec_id != q.vec_id),
      truth AS (SELECT query_id, neighbor_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM ts)
        WHERE rk <= 5),
      qs AS (SELECT q.vec_id AS query_id, c.centroid_id,
          round(list_reduce(list_transform(list_zip(q.v, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6) AS d2
        FROM q, c),
      qp AS (SELECT query_id, centroid_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d2, centroid_id) AS pr FROM qs) WHERE pr <= 2),
      sc AS (SELECT qp.query_id, cn.vec_id AS neighbor_id,
          round(list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm), 6)
            AS cosine
        FROM qp JOIN a ON a.cell = qp.cell
                JOIN n cn ON cn.vec_id = a.vec_id
                JOIN n qn ON qn.vec_id = qp.query_id
        WHERE cn.vec_id != qp.query_id),
      ivf AS (SELECT query_id, neighbor_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM sc)
        WHERE rk <= 5),
      post AS (SELECT i.query_id, i.neighbor_id
        FROM ivf i JOIN n cn ON cn.vec_id = i.neighbor_id
                   JOIN n qn ON qn.vec_id = i.query_id
        WHERE cn.label = qn.label),
      tc AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
      pc AS (SELECT query_id, count(*) AS n_post FROM post GROUP BY 1),
      h AS (SELECT t.query_id, count(*) AS n_hits
        FROM truth t JOIN post p ON p.query_id = t.query_id
          AND p.neighbor_id = t.neighbor_id GROUP BY 1)
      SELECT q.vec_id AS query_id, q.label,
        CAST(coalesce(tc.n_truth, 0) AS BIGINT) AS n_truth,
        CAST(coalesce(pc.n_post, 0) AS BIGINT) AS n_post_kept,
        CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        CASE WHEN coalesce(tc.n_truth, 0) > 0 THEN
          floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) * 1000000 /
            tc.n_truth + 0.5) / 1000000.0 END AS recall
      FROM q LEFT JOIN tc ON tc.query_id = q.vec_id
             LEFT JOIN pc ON pc.query_id = q.vec_id
             LEFT JOIN h ON h.query_id = q.vec_id
      ORDER BY query_id""",

    // d28's SCD2 chain, same-valid_from churn collapsed to the last
    // version, then DuckDB's inclusive ASOF picks the covering version.
    "q107_pit_join" -> """
      WITH s2_a AS (SELECT user_id, ts, event_id, event_type,
          {'et': event_type} AS a FROM events),
      s2_f AS (SELECT *, lag(a) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS pa FROM s2_a),
      s2_c AS (SELECT user_id, ts, event_id, event_type FROM s2_f
        WHERE a IS DISTINCT FROM pa),
      s2_v AS (SELECT user_id, event_type,
          CAST(row_number() OVER w AS INT) AS version,
          epoch_us(ts) AS valid_from_us
        FROM s2_c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      dimv AS (SELECT user_id, valid_from_us, version,
          event_type AS state FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, valid_from_us
            ORDER BY version DESC) AS rn FROM s2_v) WHERE rn = 1),
      f AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
            WHERE event_type = 'purchase')
      SELECT f.event_id, f.user_id, d.version, d.state
      FROM f ASOF LEFT JOIN dimv d
        ON f.user_id = d.user_id AND f.t_us >= d.valid_from_us
      ORDER BY f.event_id""",

    // s03's IVF shape with the label equality riding the scoring join.
    "s44_filtered_ivf" -> """
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings),
      c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
            WHERE vec_id % 50 = 0),
      s AS (SELECT e.vec_id, c.centroid_id,
          round(list_reduce(list_transform(list_zip(e.v, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6) AS d2
        FROM e, c),
      a AS (SELECT vec_id, centroid_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, centroid_id) AS rn FROM s) WHERE rn = 1),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM e),
      q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      qs AS (SELECT q.vec_id AS query_id, c.centroid_id,
          round(list_reduce(list_transform(list_zip(q.v, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6) AS d2
        FROM q, c),
      qp AS (SELECT query_id, centroid_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d2, centroid_id) AS pr FROM qs) WHERE pr <= 2),
      sc AS (SELECT qp.query_id, cn.vec_id AS neighbor_id,
          round(list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm), 6)
            AS cosine
        FROM qp JOIN a ON a.cell = qp.cell
                JOIN n cn ON cn.vec_id = a.vec_id
                JOIN n qn ON qn.vec_id = qp.query_id
        WHERE cn.vec_id != qp.query_id AND cn.label = qn.label),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS "rank" FROM sc)
      SELECT query_id, neighbor_id, cosine, CAST("rank" AS INT) AS "rank"
      FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank"""",

    "k17_backfill_matrix" -> s"""
      WITH r AS (SELECT *,
          CAST(date_trunc('day', "timestamp") AS TIMESTAMP) AS day
        FROM (${KafkaParity.replaySql})),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM r),
      spine AS (SELECT unnest(generate_series(lo, hi,
          INTERVAL 1 DAY)) AS day FROM b),
      parts AS (SELECT DISTINCT "partition" FROM r),
      c AS (SELECT "partition", day, count(*) AS n FROM r GROUP BY 1, 2)
      SELECT parts."partition", spine.day,
        CAST(coalesce(n, 0) AS BIGINT) AS n_msgs
      FROM spine CROSS JOIN parts
      LEFT JOIN c ON c."partition" = parts."partition"
                 AND c.day = spine.day
      ORDER BY parts."partition", spine.day""",

    "q106_lorenz_curve" -> """
      WITH per AS (SELECT o_custkey,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM per),
      r AS (SELECT x, CAST(floor((row_number() OVER (
            ORDER BY x, o_custkey) - 1) * 10 / n) AS INT) AS decile
        FROM per, nn),
      g AS (SELECT decile, count(*) AS n_customers, sum(x) AS rev
        FROM r GROUP BY 1),
      c AS (SELECT *, sum(rev) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
          sum(rev) OVER () AS tot
        FROM g)
      SELECT decile, n_customers, CAST(rev AS DOUBLE) AS decile_revenue,
        CAST(floor(CAST(cum_rev AS DOUBLE) * 1000000 /
          CAST(tot AS DOUBLE) + 0.5) AS BIGINT) / 1000000.0 AS cum_share
      FROM c ORDER BY decile""",

    // The s40 moment chain at dimension grain (mean chain from PowerCtes
    // shapes, sq per (vec, i), micro mean per i).
    "s42_dim_variance" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      x AS (SELECT vec_id, t.i, v[t.i] AS comp
            FROM e, unnest(generate_series(1, len(v))) AS t(i)),
      p AS (SELECT i, vec_id // 256 AS chunk,
              list_reduce(list(comp ORDER BY vec_id), (a, b) -> a + b)
                AS ps, count(*) AS cnt
            FROM x GROUP BY i, chunk),
      m AS (SELECT i,
              list_reduce(list(ps ORDER BY chunk), (a, b) -> a + b)
                / CAST(sum(cnt) AS BIGINT) AS mean
            FROM p GROUP BY i),
      nv AS (SELECT count(*) AS n FROM e),
      sq AS (SELECT x.i, CAST(floor((x.comp - m.mean) * (x.comp - m.mean)
          * 1000000 + 0.5) AS BIGINT) AS sq
        FROM x JOIN m USING (i))
      SELECT CAST(i - 1 AS INT) AS idx,
        CAST(floor(CAST(sum(sq) AS DOUBLE) / max(n) + 0.5) AS BIGINT)
          / 1000000.0 AS variance
      FROM sq, nv GROUP BY i ORDER BY idx""",

    "q105_revenue_gini" -> """
      WITH per AS (SELECT o_custkey,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY 1),
      r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn
        FROM per),
      g AS (SELECT count(*) AS n, sum(x) AS sx, sum(x * rn) AS srx
        FROM r)
      SELECT n, CAST(sx AS DOUBLE) AS total_revenue,
        CAST(floor((2.0 * CAST(srx AS DOUBLE) /
          (n * CAST(sx AS DOUBLE)) -
          CAST(n + 1 AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT)
          / 1000000.0 AS gini
      FROM g""",

    // g07's BFS chain rolled up, plus the graph-size CTE.
    "g18_reach_summary" -> """
      WITH cs AS (SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT cust AS src, supp AS dst FROM cs
          UNION ALL SELECT supp AS src, cust AS dst FROM cs)),
      seeds AS (SELECT DISTINCT src AS seed FROM e
        WHERE src < 1000000 AND src % 100 = 0),
      v0 AS (SELECT seed, seed AS node FROM seeds),
      f1 AS MATERIALIZED (SELECT DISTINCT s.seed, e.dst AS node
          FROM v0 s JOIN e ON s.node = e.src
        EXCEPT SELECT * FROM v0),
      v1 AS MATERIALIZED (SELECT * FROM v0 UNION SELECT * FROM f1),
      f2 AS MATERIALIZED (SELECT DISTINCT s.seed, e.dst AS node
          FROM f1 s JOIN e ON s.node = e.src
        EXCEPT SELECT * FROM v1),
      -- dist-3 via per-seed supplier bitmaps: the row form (DISTINCT of
      -- the ~1e9-row f2-edge join, then EXCEPT) spilled >75 GB at sf1,
      -- while bitstring_agg streams the join into 128 KB of state per
      -- seed. dst - 999999 = s_suppkey + 1 (keys are 0-based); the 1048576
      -- bound covers s_suppkey up to ~SF100. b3 & ~b1 = f3 exactly (v2's only
      -- supplier-typed members are f1's; v0/f2 are customers).
      b1 AS MATERIALIZED (SELECT seed,
          bitstring_agg(node - 999999, 1, 1048576) AS bs
        FROM f1 GROUP BY seed),
      b3 AS MATERIALIZED (SELECT s.seed,
          bitstring_agg(e.dst - 999999, 1, 1048576) AS bs
        FROM f2 s JOIN e ON s.node = e.src GROUP BY s.seed),
      lv AS (SELECT seed, 1 AS dist, count(*) AS n_nodes FROM f1
          GROUP BY seed
        UNION ALL SELECT seed, 2, count(*) FROM f2 GROUP BY seed
        UNION ALL SELECT b3.seed, 3, bit_count(b3.bs & ~b1.bs)
          FROM b3 JOIN b1 USING (seed)
          WHERE bit_count(b3.bs & ~b1.bs) > 0),
      ng AS (SELECT count(*) AS n_graph FROM (
          SELECT src AS id FROM e UNION SELECT dst FROM e)),
      g AS (SELECT seed,
          max(CASE WHEN n_nodes > 0 THEN dist END) AS max_dist,
          CAST(sum(n_nodes) AS BIGINT) AS n_reached
        FROM lv GROUP BY 1)
      SELECT seed, CAST(max_dist AS INT) AS max_dist, n_reached,
        CAST(floor(CAST(n_reached AS DOUBLE) * 1000000 / n_graph + 0.5)
          AS BIGINT) / 1000000.0 AS saturation
      FROM g, ng ORDER BY seed""",

    "t56_cluster_lang_purity" -> s"""
      WITH RECURSIVE ${NorthStar.MinhashCtes},
      filt AS (SELECT a, b FROM pairs WHERE n_eq * 100 >= 800),
      edges(src, dst) AS (
        SELECT a, b FROM filt UNION SELECT b, a FROM filt),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
             FROM reach GROUP BY src),
      lc AS (SELECT cluster_id, lang, count(*) AS nl
        FROM cl JOIN documents USING (doc_id) GROUP BY 1, 2),
      g AS (SELECT cluster_id, CAST(sum(nl) AS BIGINT) AS n_members,
          count(*) AS n_langs, CAST(max(nl) AS BIGINT) AS n_majority
        FROM lc GROUP BY 1)
      SELECT cluster_id, n_members, n_langs, n_majority,
        CAST(floor(CAST(n_majority AS DOUBLE) * 1000000 / n_members
          + 0.5) AS BIGINT) / 1000000.0 AS purity
      FROM g ORDER BY n_members DESC, cluster_id""",

    "s41_metric_rank_corr" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM e),
      q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos,
          round(list_reduce(list_transform(list_zip(q.v, c.v),
            p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b), 6)
            AS d2
        FROM q, n c WHERE c.vec_id != q.vec_id),
      rk AS (SELECT query_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rc,
          row_number() OVER (PARTITION BY query_id
            ORDER BY d2, neighbor_id) AS rd
        FROM sc),
      g AS (SELECT query_id, count(*) AS n_ranked,
          CAST(sum(CAST(rc - rd AS BIGINT) * (rc - rd)) AS BIGINT)
            AS sd2
        FROM rk GROUP BY 1)
      SELECT query_id, n_ranked,
        CAST(floor((1.0 - CAST(sd2 * 6 AS DOUBLE) /
          (CAST(n_ranked AS DOUBLE) * (n_ranked * n_ranked - 1)))
          * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS spearman_rho
      FROM g ORDER BY query_id""",

    "q104_chi_square" -> """
      WITH obs AS (SELECT c_mktsegment, o_orderpriority, count(*) AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      rm AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS rt FROM obs
             GROUP BY 1),
      cm AS (SELECT o_orderpriority, CAST(sum(o) AS BIGINT) AS ct
             FROM obs GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
      cells AS (SELECT obs.*, CAST(rt AS DOUBLE) * ct / n AS e
        FROM obs JOIN rm USING (c_mktsegment)
                 JOIN cm USING (o_orderpriority), tot),
      cm2 AS (SELECT *, CAST(floor((o - e) * (o - e) / e * 1000000 + 0.5)
          AS BIGINT) AS chim FROM cells)
      SELECT count(*) AS n_cells,
        (count(DISTINCT c_mktsegment) - 1) *
          (count(DISTINCT o_orderpriority) - 1) AS dof,
        CAST(sum(chim) AS DOUBLE) / 1000000.0 AS chi_square
      FROM cm2""",

    "m21_batch_shaping" -> """
      WITH p AS (SELECT doc_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM documents),
      c AS (SELECT doc_id, nb,
          coalesce(sum(nb) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS start
        FROM p)
      SELECT CAST(floor(start / 4096) AS BIGINT) AS batch_idx,
        count(*) AS n_payloads, CAST(sum(nb) AS BIGINT) AS n_bytes,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1 ORDER BY 1""",

    "k16_consumer_assignment" -> s"""
      WITH r AS (${KafkaParity.replaySql}),
      ld AS (SELECT "partition", count(*) AS n_msgs FROM r GROUP BY 1),
      st AS (SELECT * FROM (VALUES ('range'), ('round_robin'))
        AS t(strategy)),
      asg AS (SELECT strategy, "partition", n_msgs,
          CASE WHEN strategy = 'range'
            THEN CAST(floor("partition" * 3 / 8) AS INT)
            ELSE CAST("partition" % 3 AS INT) END AS consumer
        FROM ld CROSS JOIN st),
      g AS (SELECT strategy, consumer, count(*) AS n_partitions,
          CAST(sum(n_msgs) AS BIGINT) AS n_msgs
        FROM asg GROUP BY 1, 2)
      SELECT strategy, consumer, n_partitions, n_msgs,
        CAST(floor(CAST(n_msgs AS DOUBLE) * 3000000 /
          CAST(sum(n_msgs) OVER (PARTITION BY strategy) AS BIGINT)
          + 0.5) AS BIGINT) / 1000000.0 AS ratio_to_uniform
      FROM g ORDER BY strategy, consumer""",

    "t55_k_anonymity" -> """
      WITH cells AS (SELECT lang, source,
          CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
          count(*) AS n
        FROM documents GROUP BY 1, 2, 3)
      SELECT lang, count(*) AS n_cells,
        count(*) FILTER (WHERE n < 5) AS n_risky_cells,
        CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT)
          AS n_docs_at_risk,
        min(n) AS min_cell_size
      FROM cells GROUP BY 1 ORDER BY 1""",

    "d43_pair_explain" -> s"""
      WITH ${NorthStar.MinhashCtes},
      fw AS (SELECT a, b, n_eq FROM pairs WHERE n_eq * 100 >= 800),
      mb AS (SELECT x.doc_id AS a, y.doc_id AS b, x.b AS bi
        FROM bands0 x JOIN bands0 y
          ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id),
      mg AS (SELECT a, b,
          array_to_string(list_sort(list(DISTINCT bi)), ',')
            AS bands_matched,
          count(DISTINCT bi) AS n_bands
        FROM mb GROUP BY 1, 2),
      j AS (SELECT fw.a, fw.b, n_eq, n_bands, bands_matched,
          row_number() OVER (ORDER BY n_eq DESC, fw.a, fw.b) AS rk
        FROM fw JOIN mg ON mg.a = fw.a AND mg.b = fw.b)
      SELECT rk AS "rank", a, b, n_eq, n_bands, bands_matched
      FROM j WHERE rk <= 20 ORDER BY rk""",

    "s40_variance_explained" -> (Extras5.PowerCtes + """,
      sq AS (SELECT CAST(floor((x.comp - m.mean) * (x.comp - m.mean)
          * 1000000 + 0.5) AS BIGINT) AS sq
        FROM x JOIN m USING (i)),
      tv AS (SELECT CAST(floor(CAST(sum(sq) AS DOUBLE) / max(n) + 0.5)
          AS BIGINT) / 1000000.0 AS total_var FROM sq, nv)
      SELECT v3.raynorm AS lambda, total_var,
        CAST(floor(raynorm * 1000000 / total_var + 0.5) AS BIGINT)
          / 1000000.0 AS explained_ratio
      FROM v3, tv"""),

    // Label-free s05 mean chain, then three unrolled v ← normalize(Σ
    // (xc·v)·xc) iterations, micro-integer sums, fixed-order norm folds.
    "s39_power_iteration" -> (Extras5.PowerCtes + """
      SELECT CAST(t.i - 1 AS INT) AS i, varr[t.i] AS loading, raynorm
      FROM v3, unnest(generate_series(1, 64)) AS t(i)
      ORDER BY i"""),

    "q103_multi_grain" -> """
      WITH e AS (SELECT
          CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
          CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
          CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
          value
        FROM events)
      SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                  WHEN grouping(week) = 0 THEN 'week'
                  ELSE 'month' END AS grain,
        coalesce(day, week, month) AS bucket,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM e GROUP BY GROUPING SETS ((day), (week), (month))
      ORDER BY grain, bucket""",

    // bands0/sig from the shared chain; three cap variants of the same
    // candidate + confirm stages.
    "d42_cap_sweep" -> s"""
      WITH ${NorthStar.MinhashCtes},
      b50 AS (SELECT doc_id, b, bv FROM (
          SELECT doc_id, b, bv, row_number()
            OVER (PARTITION BY b, bv ORDER BY doc_id) AS bp FROM bands0)
        WHERE bp <= 50),
      c50 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM b50 x JOIN b50 y
          ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id),
      p50 AS (SELECT count(*) AS n_pairs FROM c50
        JOIN sig sa ON sa.doc_id = c50.a
        JOIN sig sb ON sb.doc_id = c50.b
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT)
          * 100 >= 800),
      b100 AS (SELECT doc_id, b, bv FROM (
          SELECT doc_id, b, bv, row_number()
            OVER (PARTITION BY b, bv ORDER BY doc_id) AS bp FROM bands0)
        WHERE bp <= 100),
      c100 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM b100 x JOIN b100 y
          ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id),
      p100 AS (SELECT count(*) AS n_pairs FROM c100
        JOIN sig sa ON sa.doc_id = c100.a
        JOIN sig sb ON sb.doc_id = c100.b
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT)
          * 100 >= 800),
      p200 AS (SELECT count(*) AS n_pairs FROM pairs
        WHERE n_eq * 100 >= 800)
      SELECT 50 AS max_bucket, n_pairs FROM p50
      UNION ALL SELECT 100, n_pairs FROM p100
      UNION ALL SELECT 200, n_pairs FROM p200
      ORDER BY 1""",

    "q102_skew_detector" -> """
      WITH g AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
          count(*) AS n_keys FROM g),
      r AS (SELECT *, row_number() OVER (ORDER BY n DESC, o_custkey)
          AS rk FROM g, tot)
      SELECT rk AS "rank", o_custkey, n,
        CAST(floor(CAST(n AS DOUBLE) * 1000000 / total + 0.5) AS BIGINT)
          / 1000000.0 AS share,
        CAST(floor(CAST(n AS DOUBLE) * n_keys * 1000000 / total + 0.5)
          AS BIGINT) / 1000000.0 AS ratio_to_uniform
      FROM r WHERE rk <= 10 ORDER BY rk""",

    "q101_range_splits" -> """
      WITH g AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
          count(*) AS c FROM lineitem GROUP BY 1),
      cum AS (SELECT v, sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(c) OVER () AS total
        FROM g),
      idx AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7))
        AS t(split_idx))
      SELECT split_idx, CAST(min(v) AS DOUBLE) AS split_value
      FROM cum CROSS JOIN idx
      WHERE cum * 8 >= split_idx * total
      GROUP BY 1 ORDER BY 1""")
}
