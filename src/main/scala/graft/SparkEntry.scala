package graft

import graft.dedup.{Dedup, SemDedup}
import graft.functions.GraftExpressions._
import graft.functions.SimHash
import graft.sample.Sampling
import graft.search.{IvfPq, ProductQuant, SimilaritySearch}
import graft.text.{Pii, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (see SURVEY.md §2 for the operator inventory each entry
  * maps to). Every `queries` key has a DuckDB oracle in `oracleSql` when the
  * operator is ANSI-SQL-expressible; hash-/codec-specific operators (bloom,
  * minhash, simhash, crawl loop, image ops) are rows-only here and pinned by
  * dedicated ScalaTest suites instead.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.6/§2.7 stock-Catalyst operators) ----
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    }),
    "q_join3" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    "q_broadcast_join" -> ((s, d) => {
      t(s, d, "nation").join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))
    }),
    "q_semi_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    "q_anti_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    "q_window_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"))
    }),
    "q_running_sum" -> ((s, d) => {
      // order must be total up to equal-quantity ties, or the running sum is
      // engine-dependent: (linenumber, quantity) makes any residual tie
      // value-neutral
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
    }),
    "q_distinct" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),
    "q_union_agg" -> ((s, d) => {
      val sup = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      val cus = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      sup.unionByName(cus).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
    }),
    "q_case_having" -> ((s, d) => {
      t(s, d, "part").groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(when(col("p_size") > 25, col("p_retailprice")).otherwise(lit(0.0))), 2)
            .as("big_value"))
        .filter(col("n_parts") > 5)
    }),
    "q_sort_limit" -> ((s, d) =>
      t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .limit(10)),
    "q_filter_pushdown" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))),

    "q_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))),
    "q_scalar_subquery" -> ((s, d) => {
      // plan-native scalar subquery: broadcast the 1-row aggregate instead of
      // collecting it on the driver — one plan, no separate driver job
      val avgPrice = t(s, d, "orders").agg(avg(col("o_totalprice")).as("avg_price"))
      t(s, d, "orders").crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above_avg"))
    }),
    "q_in_subquery" -> ((s, d) => {
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_orderkey"))
      t(s, d, "lineitem")
        .join(bigOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),
    "q_cross_join_small" -> ((s, d) =>
      t(s, d, "region").crossJoin(t(s, d, "nation").select(col("n_name")))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_pairs"))),

    // ---- streaming-analog segment stats (SURVEY §2.7 A1, §2.9) ----------
    "q_events_tumbling" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))),
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
      gap.withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // ---- crawl-semantics operators restated on driver tables ------------
    "q_head_discovery" -> ((s, d) => // S2: per-host high-water mark
      t(s, d, "events").groupBy(col("user_id"))
        .agg(max(col("event_id")).as("head_seq"), count(lit(1)).as("n"))),
    "q_seq_walk" -> ((s, d) => { // T1: strict per-host monotone order
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        row_number().over(w).as("walk_pos"))
    }),
    "q_parent_lag" -> ((s, d) => { // T3: parent-link validation shape
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("parent_seq"))
    }),
    "q_window_evict" -> ((s, d) => { // T4/A5: bounded last-K window per host
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("user_id"), col("event_id"), col("rn"))
    }),
    "q_reorg_diff" -> ((s, d) => { // T5/T6: window-vs-remote full-outer diff
      val ev = t(s, d, "events")
      val local = ev.filter(col("event_id") % 3 =!= 0)
        .select(col("event_id"), col("value").as("l_value"))
      val remote = ev
        .select(col("event_id"),
          when(col("event_id") % 7 === 0, round(col("value") * 2, 2))
            .otherwise(col("value")).as("r_value"))
      local.join(remote, Seq("event_id"), "full_outer")
        .withColumn("status",
          when(col("l_value").isNull, lit("ACCEPTED"))
            .when(col("r_value").isNull, lit("DROPPED"))
            .when(col("l_value") =!= col("r_value"), lit("REPLACED"))
            .otherwise(lit("UNCHANGED")))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),
    "q_filter_member" -> ((s, d) => // F1: membership with wildcard-on-empty
      t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))),
    "q_politeness_topk" -> ((s, d) => { // per-host budgeted priority take
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, d, "events").withColumn("rnk", row_number().over(w))
        .withColumn("cap", (col("user_id") % 3 + 1))
        .filter(col("rnk") <= col("cap"))
        .select(col("user_id"), col("event_id"), col("rnk"))
    }),

    // ---- scalar codecs (SURVEY §2.8 U1-U3, U6) ---------------------------
    "q_hex_roundtrip" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey")).distinct()
        .select(col("l_orderkey"),
          hex_to_long(long_to_hex(col("l_orderkey"))).as("decoded"),
          long_to_hex(col("l_orderkey")).as("hex"))),
    "q_hex_value" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        hex_to_decimal_string(long_to_hex(col("o_orderkey"))).as("decoded"))),
    "q_url_canon" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        canonicalize_url(concat(lit("HTTP://Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM:80//a/./b/../p/"), col("doc_id").cast("string"), lit("#frag")))
          .as("canon"))),
    "q_url_host_path" -> ((s, d) => {
      val u = canonicalize_url(concat(lit("https://U:p@Host"), (col("doc_id") % 5).cast("string"),
        lit(".Example.ORG:443/x/"), col("doc_id").cast("string"), lit("/y/?q=1")))
      t(s, d, "documents").select(col("doc_id"),
        url_host(u).as("host"), url_path(u).as("path"))
    }),

    "q_url_blocklist" -> ((s, d) => { // domain blocklist: suffix-match via
      // bounded explode + broadcast equi-join (never a LIKE scan); hosts
      // are synthesized from doc_id at three label depths so the oracle
      // replays the suffix semantics with plain string predicates
      import s.implicits._
      val urls = t(s, d, "documents").select(col("doc_id"),
        concat(lit("sub"), (col("doc_id") % 3).cast("string"),
          lit(".host"), (col("doc_id") % 23).cast("string"),
          lit(".example"), (col("doc_id") % 7).cast("string"),
          lit(".com")).as("host"))
      val blocklist = BlockedDomains.toDF("domain")
      graft.frontier.UrlBlocklist.matches(urls, "host", blocklist, "domain")
        .select(col("doc_id"), col("host"), col("matched_domain"))
    }),

    "q_adaptive_delay" -> ((s, d) => { // observed-latency politeness: per-host
      // bias-corrected EWMA (decay .5 → exact power-of-two weights, so the
      // weighted sums replay in SQL) clamped into the scheduler's
      // min_delay_ms; host=user, latency=value, fetch order=(ts, event_id)
      val log = t(s, d, "events").select(
        col("user_id").as("host"), col("ts"), col("event_id"),
        col("value").as("latency_ms"))
      val e = graft.frontier.AdaptivePoliteness.ewmaLatency(
          log, "host", Seq("ts", "event_id"), "latency_ms")
        .withColumn("ewma_ms", round(col("ewma_ms"), 3))
      graft.frontier.AdaptivePoliteness.adaptiveDelay(e)
        .select(col("host"), col("n_obs"), col("ewma_ms"), col("min_delay_ms"))
    }),
    "q_recrawl_lambda" -> ((s, d) => { // Cho–Garcia-Molina per-URL change
      // rate over synthetic fetch history: url=user, logical clock=event_id,
      // content fingerprint flips every (url%9+1)*50 ticks — the oracle
      // replays the estimator in closed-form SQL (lag + ln)
      val fetches = t(s, d, "events").select(
        col("user_id").as("url_id"),
        col("event_id").as("seq"),
        floor(col("event_id") / ((col("user_id") % 9 + 1) * 50)).as("fp"))
      graft.frontier.Recrawl.changeRate(fetches, "url_id", "seq", "fp")
    }),
    "q_crawl_traps" -> ((s, d) => { // URL-template explosion census: 'view'
      // events synthesize an /archive/<id> trap (unbounded URLs, 5 distinct
      // contents), the rest a healthy /p/<id%97> section; digit-collapse +
      // two-key count-distinct census, is_trap kept as 0/1 audit column
      val urls = t(s, d, "events").select(
        concat(lit("h"), (col("user_id") % 20).cast("string")).as("host"),
        when(col("event_type") === "view",
          concat(lit("/archive/"), col("event_id").cast("string")))
          .otherwise(concat(lit("/p/"), (col("event_id") % 97).cast("string")))
          .as("path"),
        when(col("event_type") === "view", (col("event_id") % 5).cast("string"))
          .otherwise((col("event_id") % 97).cast("string")).as("content"))
      graft.frontier.TrapDetect.flagTraps(
        graft.frontier.TrapDetect.urlTemplates(urls, "host", "path", "content"))
    }),
    "q_host_cardinality" -> ((s, d) => { // sketch-gated exact row (the
      // q_ann_ivf move): emits the exact per-host distinct count only where
      // the HLL++ estimate (rsd 2%) lands within 10% — a sketch regression
      // drops rows and the oracle diff goes red
      // r6 (guide §2.3): `agg(countDistinct, approx_count_distinct)` made
      // the planner's multi-distinct rewrite key the FIRST aggregate by
      // (user_id, event_id) with the 410-word HLL buffer carried per PAIR —
      // ~100k × 3.3 KB through the exchange (plan dump in
      // plans/r06/before/q_host_cardinality.txt). Dedup the pairs first,
      // then aggregate once per user: count(event_id) over distinct pairs
      // IS the exact distinct count, and HLL register updates are
      // idempotent, so the sketch over deduplicated events carries
      // bit-identical registers → identical estimate (oracle-pinned).
      val agg = t(s, d, "events")
        .select(col("user_id"), col("event_id")).distinct()
        .groupBy(col("user_id"))
        .agg(count(col("event_id")).as("n_exact"),
          approx_count_distinct(col("event_id"), 0.02).as("n_approx"))
      agg.filter(abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.1)
        .select(col("user_id"), col("n_exact"))
    }),
    "q_len_quantiles" -> ((s, d) => { // sketch-gated quantiles: the
      // q_host_cardinality move for DISTRIBUTIONS — emits the exact per-lang
      // length percentiles only while the approx-percentile sketch (the
      // GK-family algorithm a 100 TB corpus profile actually runs) lands
      // within 10% of each; a sketch regression drops rows → oracle red.
      // Exact side = percentile_cont semantics, replayed by DuckDB
      // quantile_cont (same (n−1)·p linear interpolation).
      val agg = t(s, d, "documents").groupBy(col("lang"))
        .agg(
          expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("ex"),
          expr("percentile_approx(n_chars, array(0.5D, 0.9D, 0.99D), 1000)").as("ap"))
      val within = (1 to 3).map(i =>
        abs(element_at(col("ap"), i).cast("double") - element_at(col("ex"), i)) <=
          element_at(col("ex"), i) * 0.1).reduce(_ && _)
      agg.filter(within).select(col("lang"),
        round(element_at(col("ex"), 1), 2).as("p50"),
        round(element_at(col("ex"), 2), 2).as("p90"),
        round(element_at(col("ex"), 3), 2).as("p99"))
    }),

    // ---- training-data ops: dedup -----------------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")),
    "q_token_jaccard" -> ((s, d) =>
      Dedup.tokenJaccardPairs(
        t(s, d, "documents").withColumn("len_bucket", floor(col("n_chars") / 100)),
        "doc_id", "text", Seq("lang", "len_bucket"), 0.55)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))),
    "q_minhash_neardups" -> ((s, d) => // oracled: exact word-3-shingle Jaccard twin
      Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text")
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))),
    "q_simhash_neardups" -> ((s, d) => // oracled: DuckDB replays the FNV+fmix
      // signature build, 16-bit banding, and Hamming verify bit-exactly
      Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text")),
    "q_dup_clusters" -> ((s, d) => // oracled: recursive-CTE min-label closure
      // over the exact Jaccard pair set the minhash oracle replays
      Dedup.connectedComponents(
        Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text"),
        idOut = "doc_id", componentOut = "cluster_id")),
    "q_dedup_canonical" -> ((s, d) => { // oracled: survivors = docs minus
      // clustered non-minima from the same recursive closure
      val docs = t(s, d, "documents")
      Dedup.dedupCanonical(docs, "doc_id",
          Dedup.minhashNearDups(docs, "doc_id", "text"))
        .select("doc_id", "lang", "n_chars")
    }),
    "q_embed_neardups" -> ((s, d) => {
      // Multi-band sign-LSH at cosine 0.9 over the embeddings table with
      // PLANTED near-dups (the raw driver table has no pairs ≥ 0.9, which
      // made this row vacuous): ids < 20 get an exact twin (+1e6, cosine
      // 1.0) and ids in [20, 40) a first-coordinate sign-flip (+2e6,
      // cosine = 1 − 2·v₁²/‖v‖², ~0.9–0.999 on this data). Fully oracled:
      // the oracle computes the exact pair set on the same augmented table,
      // so the hash match asserts LSH recall = 1 on every planted pair AND
      // verify-exactness (LSH ⊆ exact holds by construction of the verify
      // stage; the oracle pins exact ⊆ LSH too).
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val twins = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val flips = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(-element_at(col("embedding"), 1)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val aug = e.unionByName(twins).unionByName(flips)
      Dedup.embeddingNearDups(aug, "vec_id", "embedding", dim = 64, minCosine = 0.9)
        .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
    }),
    "q_embed_neardups_exact" -> ((s, d) => { // the LSH path's oracled exact twin
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.select(col("vec_id").as("id1"), col("v").as("v1"))
        .join(e.select(col("vec_id").as("id2"), col("v").as("v2")),
          col("id1") < col("id2"))
        .withColumn("cos_raw", Dedup.cosine(col("v1"), col("v2")))
        .filter(col("cos_raw") >= 0.35)
        .select(col("id1"), col("id2"), round(col("cos_raw"), 4).as("cosine"))
    }),
    "q_semdedup" -> ((s, d) => {
      // SemDeDup (cluster-then-within-cluster prune) with a CLOSED-FORM
      // oracle: plant an exact twin (+1e6, cosine 1.0) for every vec_id < 30,
      // run the semantic path at cosine 0.95, keep one representative per
      // cluster. Identical vectors land in the same k-means cell by
      // construction and no natural pair on this table reaches 0.95 (the
      // q_embed_neardups measurement), so the survivor set is EXACTLY the
      // original vec_ids — `SELECT vec_id FROM embeddings`. The row goes red
      // if the semantic path misses any twin (a +1e6 id survives → extra
      // row) or emits a false ≥0.95 pair (a base id gets dropped → short).
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val twins = e.filter(col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val aug = e.unionByName(twins)
      SemDedup.semanticSurvivors(s, aug, "vec_id", "embedding",
          nlist = 16, iters = 2, minCosine = 0.95)
        .select("vec_id")
    }),

    // ---- training-data ops: similarity search ----------------------------
    "q_embed_refcos" -> ((s, d) => { // cosine vs all-ones reference vector
      val ones = lit(Array.fill(64)(1.0))
      t(s, d, "embeddings").select(col("vec_id"),
        round(Dedup.cosine(col("embedding").cast("array<double>"), ones), 4).as("ref_cos"))
    }),
    "q_ann_bruteforce" -> ((s, d) => {
      val q = (0 until 64).map(i => math.sin(i + 1)).toArray
      SimilaritySearch.bruteForceTopK(
        t(s, d, "embeddings"), "vec_id", "embedding", q, 10)
    }),
    "q_ann_ivf" -> ((s, d) => {
      // Partial-probe IVF with a DRIVER-VISIBLE recall gate: the emitted
      // rows are the EXACT top-k (oracle-matchable in DuckDB), cross-joined
      // with a 1-row guard that exists only while the nprobe=8/16 IVF
      // result recalls ≥ RecallFloor of them. If probe recall ever drops
      // below the floor, the guard row vanishes, the query returns 0 rows,
      // and the driver's rows/hash compare goes red — the r3 version
      // emitted raw approximate top-k with no oracle at all.
      // Measured recall at nprobe=8 (deterministic per SF: seeded kmeans on
      // fixed data): 0.7 / 0.9 / 0.9 at sf0.001/0.01/0.1 — the driver
      // tables are near-uniform random vectors, the hardest case for a
      // coarse quantizer, so the floor asserts "probe pruning keeps the
      // majority of the true top-k", not a tuned recall claim.
      val q = (0 until 64).map(i => math.sin(i + 1)).toArray
      val idx = SimilaritySearch.buildIvf(s, t(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 16, iters = 2)
      val approx = SimilaritySearch.searchIvf(idx, q, 10, nprobe = 8)
        .select(col("id"))
      val exact = SimilaritySearch.bruteForceTopK(
        t(s, d, "embeddings"), "vec_id", "embedding", q, 10)
        .select(col("vec_id").as("id"), col("cosine"))
      // recall denominator = the exact side's ACTUAL row count (a table
      // with < k rows yields a shorter top-k; a hard-coded /k would then
      // understate recall and read as a failure on a small table)
      val exactN = exact.agg(count(lit(1)).as("n_exact"))
      val guard = exact.join(approx, Seq("id"), "left_semi")
        .agg(count(lit(1)).cast("double").as("n_hit"))
        .crossJoin(broadcast(exactN))
        .filter(col("n_hit") / col("n_exact") >= AnnIvfRecallFloor)
        .select(lit(1).as("ok"))
      exact.crossJoin(broadcast(guard)).drop("ok")
    }),
    "q_ann_pq" -> ((s, d) => {
      // Product-quantization ADC+rerank with the q_ann_ivf gate shape:
      // emitted rows are the EXACT squared-L2 top-k (DuckDB-replayable); the
      // 1-row guard exists only while the PQ search (80-bit codes, ADC
      // shortlist 50 → exact re-rank, the IVFADC+R scheme) recalls ≥
      // AnnPqRecallFloor of them. Near-uniform random vectors are PQ's
      // worst case (code distances quantize away the neighbor margins —
      // raw ADC@10 measures 0.4-0.5 here, PLANS.md "ProductQuant"); the
      // rerank path measures 1.0 / 0.9 at sf0.001 / sf0.01 (deterministic:
      // seeded init on fixed data), so the 0.5 floor asserts the scheme
      // with margin.
      val q = (0 until 64).map(i => math.sin(i + 1)).toArray
      val emb = t(s, d, "embeddings")
      val cb = ProductQuant.train(s, emb, "vec_id", "embedding",
        m = 16, ksub = 32, iters = 3)
      val codes = ProductQuant.encode(emb, "vec_id", "embedding", cb)
      val approx = ProductQuant.searchAdcRerank(codes, emb, "vec_id",
        "embedding", cb, q, k = 10, shortlist = 50).select(col("id"))
      val qLit = lit(q)
      val exact = emb.select(col("vec_id").as("id"),
          // r6: native vec_l2sq kernel — same ascending fold as the
          // previous zip_with/aggregate composition, bit-identical rounded
          // values (VecOpsSpec)
          round(graft.functions.VecOps.vec_l2sq(
            col("embedding").cast("array<double>"), qLit), 6).as("l2sq"))
        .orderBy(col("l2sq").asc, col("id").asc).limit(10)
      val exactN = exact.agg(count(lit(1)).as("n_exact"))
      val guard = exact.join(approx, Seq("id"), "left_semi")
        .agg(count(lit(1)).cast("double").as("n_hit"))
        .crossJoin(broadcast(exactN))
        .filter(col("n_hit") / col("n_exact") >= AnnPqRecallFloor)
        .select(lit(1).as("ok"))
      exact.crossJoin(broadcast(guard)).drop("ok")
    }),
    "q_ann_ivfpq" -> ((s, d) => {
      // IVFADC — the full composition (probe-pruned scan × residual-PQ
      // codes × exact re-rank), gated like q_ann_pq: emitted rows are the
      // EXACT squared-L2 top-k; the 1-row guard exists only while the
      // nprobe=8-of-16 IVFADC search (m=16, ksub=32 residual codes,
      // shortlist 50) recalls ≥ AnnPqRecallFloor of them. Measured
      // (PLANS.md "IvfPq", deterministic: seeded init on fixed data):
      // 0.70 / 0.90 at sf0.001 / sf0.01 — probe pruning costs recall on
      // near-uniform vectors exactly as q_ann_ivf documents, and the
      // floor asserts the composed scheme with margin.
      val q = (0 until 64).map(i => math.sin(i + 1)).toArray
      val emb = t(s, d, "embeddings")
      val idx = IvfPq.build(s, emb, "vec_id", "embedding",
        nlist = 16, m = 16, ksub = 32, iters = 3)
      val approx = IvfPq.search(idx, emb, "vec_id", "embedding", q,
        k = 10, nprobe = 8, shortlist = 50).select(col("id"))
      val qLit = lit(q)
      val exact = emb.select(col("vec_id").as("id"),
          // r6: native vec_l2sq kernel — same ascending fold as the
          // previous zip_with/aggregate composition, bit-identical rounded
          // values (VecOpsSpec)
          round(graft.functions.VecOps.vec_l2sq(
            col("embedding").cast("array<double>"), qLit), 6).as("l2sq"))
        .orderBy(col("l2sq").asc, col("id").asc).limit(10)
      val exactN = exact.agg(count(lit(1)).as("n_exact"))
      val guard = exact.join(approx, Seq("id"), "left_semi")
        .agg(count(lit(1)).cast("double").as("n_hit"))
        .crossJoin(broadcast(exactN))
        .filter(col("n_hit") / col("n_exact") >= AnnPqRecallFloor)
        .select(lit(1).as("ok"))
      exact.crossJoin(broadcast(guard)).drop("ok")
    }),
    "q_ann_ivf_full" -> ((s, d) => { // nprobe = nlist ⇒ must equal exact top-k → oracled
      val q = (0 until 64).map(i => math.sin(i + 1)).toArray
      val idx = SimilaritySearch.buildIvf(s, t(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 16, iters = 2)
      SimilaritySearch.searchIvf(idx, q, 10, nprobe = 16)
    }),

    // ---- training-data ops: sampling / mixing -----------------------------
    "q_sample_stratified" -> ((s, d) => // membership itself is oracled: the
      // mix64 sampling hash replays in SQL, so DuckDB recomputes which ROWS
      // survive, not just how many
      Sampling.stratifiedSample(t(s, d, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25),
          defaultRate = 1.0, salt = 77L)
        .select(col("doc_id"), col("lang"))),
    "q_sample_topk" -> ((s, d) => // deterministic uniform k-per-stratum
      Sampling.uniformPerStratum(t(s, d, "documents"), "lang", "doc_id",
          k = 20, salt = 91L)
        .select(col("lang"), col("doc_id"), col("rk"))),
    "q_domain_mix" -> ((s, d) => // sqrt-temperature mixture weights per lang
      Sampling.temperatureWeights(t(s, d, "documents"), "lang")),
    "q_shard_assign" -> ((s, d) => // balanced training-shard export: the
      // two-phase distributed prefix sum must equal the oracle's one-window
      // closed form row-for-row
      graft.`export`.ShardExport.assignShards(
          t(s, d, "documents"), "doc_id", "n_chars", targetSize = 4096L)
        .select(col("doc_id"), col("shard_id"))),
    "q_shard_manifest" -> ((s, d) => // per-shard row/byte manifest
      graft.`export`.ShardExport.manifest(
        graft.`export`.ShardExport.assignShards(
          t(s, d, "documents"), "doc_id", "n_chars", targetSize = 4096L),
        "n_chars")),

    // ---- training-data ops: PII scrub -------------------------------------
    "q_pii_scrub" -> ((s, d) => { // counts AND redacted text verified (md5):
      // deterministic PII spans are appended from the doc_id so the fixture
      // has known emails/IPs/phones; the Java∩RE2 pattern subset makes the
      // exact matches replayable in DuckDB
      val withPii = piiFixtureText(t(s, d, "documents"))
      withPii.select(col("doc_id"),
        Pii.emailCount(col("t2")).as("n_emails"),
        Pii.ipv4Count(col("t2")).as("n_ipv4"),
        Pii.phoneCount(col("t2")).as("n_phones"),
        md5(Pii.redact(col("t2"))).as("redacted_md5"))
    }),

    // ---- training-data ops: text analysis --------------------------------
    "q_html_extract" -> ((s, d) => { // boilerplate strip, fully oracled: the
      // HTML is synthesized from documents.text with planted script/style/
      // comment blocks, entities, and whitespace runs, so the oracle knows
      // the exact extraction closed-form (doc text is clean of specials —
      // verified — so the strip must return it verbatim plus the planted
      // fragments)
      val html = concat(
        lit("<html><head><title> Doc "), col("doc_id"),
        lit("  &amp; friends </title>"),
        lit("<script>var x = \"<p>no</p>\";\nvar y = 2;</script>"),
        lit("<style>p{color:red}</style></head><body><p>"), col("text"),
        lit("</p> <b>A &lt;tag&gt;</b> <!-- dropped --> " +
          "<a href=\"/n\">next</a> <a href=\"/p\">prev</a></body></html>"))
      graft.text.HtmlExtract.extract(
        t(s, d, "documents").withColumn("html", html), "html", Seq("doc_id"))
    }),
    "q_text_stats" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeIshTokenCount(col("text")).as("n_bpeish"))),
    "q_text_quality" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "q_langid" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q_fingerprint" -> ((s, d) => // oracled: DuckDB replays the polynomial
      // rolling winnowing (B/M < 2^31 keep it in plain BIGINT arithmetic)
      t(s, d, "documents").select(col("doc_id"),
        size(TextAnalysis.fingerprint(col("text"))).as("n_fingerprints"))),
    "q_repetition" -> ((s, d) => { // Gopher-style within-doc repetition
      // metrics; the corpus text has no newlines, so the fixture lineifies
      // it deterministically (6-token chunks) and plants duplicate lines
      // for ids ≡ 0 (mod 4) — both sides rebuild the same lines, so the
      // match verifies the METRICS (dup-line, dup-char, top-bigram)
      val withLines = repetitionFixtureLines(t(s, d, "documents"))
      val toksAll = split(array_join(col("lines"), " "), " ")
      withLines.select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        round(graft.text.Repetition.dupLineFrac(col("lines")), 6).as("dup_line_frac"),
        round(graft.text.Repetition.dupCharFrac(col("lines")), 6).as("dup_char_frac"),
        round(graft.text.Repetition.topRunFrac(
          graft.text.Repetition.wordBigrams(toksAll)), 6).as("top_bigram_frac"))
    }),
    "q_line_dedup" -> ((s, d) => { // C4-style corpus-level line dedup:
      // the fixture lineifies each doc (6-token chunks) and plants
      // cross-doc template lines — one in every doc, one in every 3rd,
      // one shared by each (id mod 97) cluster. The oracle recomputes the
      // distinct-doc census on line STRINGS, so the engine's xxhash64
      // census key is collision-checked, and verifies the cleaned text,
      // kept/dropped counts, and line order per doc.
      val withLines = lineDedupFixtureLines(t(s, d, "documents"))
      graft.text.LineDedup.dropCommonLines(withLines, "doc_id", "lines",
          LineDedupMinDf)
        .select(col("id").as("doc_id"), col("text_clean"),
          col("n_kept"), col("n_dropped"))
    }),
    "q_fingerprint_dups" -> ((s, d) => // copied-span near-dups: shared
      // winnow fingerprints — index, bucket cap, AND pair counts all replay
      // in the same BIGINT arithmetic as q_fingerprint's oracle
      Dedup.fingerprintNearDups(t(s, d, "documents"), "doc_id", "text",
        minShared = FingerprintMinShared)),
    "q_lm_quality" -> ((s, d) => // corpus-trained add-k bigram LM: per-doc
      // average negative log-likelihood — counts, smoothing, and the
      // whitespace tokenization all replay exactly in DuckDB
      graft.text.LmScore.bigramNll(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 6).as("avg_nll"))),
    "q_tfidf" -> ((s, d) => // per-doc top-5 tf-idf terms: counts, smoothed
      // idf, and the top-k cut (rank over the ROUNDED score, term
      // tie-break) all replay relationally in DuckDB
      graft.text.TfIdf.topTerms(t(s, d, "documents"), "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("df_docs"), col("tfidf"), col("rank"))),
    "q_sitemap" -> ((s, d) => // sitemap/sitemapindex extraction over XML
      // synthesized closed-form from the doc_id (hosts reuse the blocklist
      // fixture pattern; entity escapes and whitespace planted), so the
      // oracle reconstructs every (kind, loc, lastmod) row without parsing
      graft.frontier.Sitemap.parse(
        sitemapFixtureXml(t(s, d, "documents")), "xml", Seq("doc_id"))),
    "q_url_striptrack" -> ((s, d) => {
      // the strip_tracking codegen expression over URLs synthesized with
      // four closed-form query shapes (utm family around a real param;
      // unordered params + gclid; tracking-only query; no query) — the
      // oracle writes the expected dedup key per shape directly, so a
      // strip or sort regression mismatches
      val i = col("doc_id")
      val url = concat(lit("https://h"), i, lit(".example.com/p"),
        when(pmod(i, lit(4)) === 0,
          concat(lit("?utm_source=x&id="), i, lit("&utm_campaign=y")))
          .when(pmod(i, lit(4)) === 1, lit("?b=2&a=1&gclid=abc"))
          .when(pmod(i, lit(4)) === 2, lit("?fbclid=z"))
          .otherwise(lit("")))
      t(s, d, "documents").select(col("doc_id"), url.as("url"),
        strip_tracking(url).as("dedup_key"))
    }),
    "q_warc_records" -> ((s, d) => {
      // WARC framing round-trip, oracled closed-form: every doc becomes a
      // two-record archive blob (warcinfo + response whose payload is the
      // doc text, Content-Length in UTF-8 OCTETS — octet_length, not
      // length, or every multibyte zh doc desyncs), parsed back by
      // WarcIngest; the oracle reconstructs type/uri/length/md5 without
      // parsing, so any framing off-by-one mis-hashes a payload → red
      val blobs = warcFixtureRecords(t(s, d, "documents"))
        .select(col("doc_id"), concat(col("r1"), col("r2")).as("blob"))
      graft.ingest.WarcIngest.parseRecords(s, blobs, "doc_id", "blob").toDF()
        .select(warcProjection: _*)
    }),
    "q_warc_gz" -> ((s, d) => {
      // the SAME archives compressed as per-record gzip MEMBERS (the
      // .warc.gz layout CommonCrawl distributes) through the gzip path —
      // identical oracle: compression is transport, the record set is
      // invariant, and a member-boundary bug desyncs the md5s → red
      import s.implicits._
      val gz = warcFixtureRecords(t(s, d, "documents"))
        .select(col("doc_id"), col("r1"), col("r2"))
        .as[(Long, String, String)]
        .map { case (id, a, b) =>
          val u = java.nio.charset.StandardCharsets.UTF_8
          (id, graft.ingest.WarcIngest.gzipMember(a.getBytes(u)) ++
            graft.ingest.WarcIngest.gzipMember(b.getBytes(u)))
        }.toDF("doc_id", "gz")
      graft.ingest.WarcIngest.parseGzipRecords(s, gz, "doc_id", "gz").toDF()
        .select(warcProjection: _*)
    }),
    "q_nfc_norm" -> ((s, d) => { // Unicode NFC canonical composition (the
      // graft.functions.NfcNormalize codegen expression) over planted
      // DECOMPOSED sequences — "cafe"+U+0301, "no"+U+0308 — which every
      // web corpus contains both ways; DuckDB's nfc_normalize replays the
      // composition, `changed` pins that composition really happened and
      // n_chars_norm that the combining marks merged (2 code points → 1)
      val raw = concat(lit("cafe\u0301 no\u0308el #"), col("doc_id"))
      t(s, d, "documents").select(col("doc_id"),
        nfc_normalize(raw).as("norm"),
        (nfc_normalize(raw) =!= raw).cast("int").as("changed"),
        length(nfc_normalize(raw)).cast("long").as("n_chars_norm"))
    }),
    "q_robots_sitemaps" -> ((s, d) => { // Sitemap: directive discovery from
      // robots.txt bodies synthesized closed-form per doc_id: every doc
      // advertises one sitemap (doc_id%3==0 with a trailing comment to
      // strip), doc_id%7==0 adds a case/whitespace-variant second line,
      // doc_id%5==0 plants a FULL-LINE-COMMENTED directive that must NOT
      // extract — the oracle reconstructs the exact surviving URL set
      val robots = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          lit("# synthetic robots fixture"),
          lit("User-agent: *"),
          lit("Disallow: /private"),
          concat(lit("Sitemap: https://h"), col("doc_id"),
            lit(".example.com/sitemap"), pmod(col("doc_id"), lit(4)),
            lit(".xml"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(" # nightly"))
              .otherwise(lit(""))),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("  sitemap : https://alt"), col("doc_id"),
              lit(".example.org/s.xml")))
            .otherwise(lit("Crawl-delay: 2")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("# Sitemap: https://commented.example.com/never.xml"))
            .otherwise(lit(""))).as("body"))
      graft.frontier.Sitemap.fromRobots(robots, "body", Seq("doc_id"))
    }),
    "q_anchor_text" -> ((s, d) => // per-target top-3 anchor texts over the
      // q_pagerank link graph with planted case/whitespace anchor variants
      // — normalization, counts, and the rank cut all replay in DuckDB
      graft.text.AnchorText.topAnchors(
        anchorFixtureLinks(t(s, d, "documents")), "dst", "anchor", k = 3)),
    "q_pagerank" -> ((s, d) => { // link-graph rank over a deterministic
      // 3-outlinks-per-doc graph (plain integer arithmetic, so the oracle
      // rebuilds the same edges and unrolls the same 5 power iterations
      // in SQL); fixed iterations keep the result exactly replayable
      val docs = t(s, d, "documents")
      graft.frontier.PageRank.pagerank(
          docs.select(col("doc_id")), docLinkEdges(docs),
          iterations = 5, damping = 0.85)
        .select(col("id").as("doc_id"), round(col("rank"), 8).as("rank"))
    }),

    // ---- multimodal plumbing --------------------------------------------
    "q_image_meta" -> ((s, d) => {
      // fully oracled in closed form: the REAL decode recovers (w, h) that
      // DuckDB recomputes from the id alone (ImageGen dims are
      // 32 + floorMod(mix64(i, 1|2), 4)·32 — the mix64 chain replays in
      // SQL), so a decode regression hash-mismatches, not just row-counts
      val images = graft.fixtures.ImageGen.generate(s, 200).toDF()
      graft.multimodal.Multimodal.decodeMeta(s, images).toDF()
        .select(col("image_id"), col("w"), col("h"), col("fmt"),
          col("decode_ok").cast("int").as("decode_ok"))
    }),
    "q_image_buckets" -> ((s, d) => {
      // SDXL-style aspect bucketing over REAL decoded dims; fully oracled:
      // DuckDB recomputes (w, h) closed-form from the id (the q_image_meta
      // chain) and replays the nearest-log-aspect rule over the same ladder
      // — a decode or argmin regression hash-mismatches
      val images = graft.fixtures.ImageGen.generate(s, 200).toDF()
      val meta = graft.multimodal.Multimodal.decodeMeta(s, images).toDF()
      graft.multimodal.Multimodal.bucketImages(meta)
    }),
    "q_image_gate" -> ((s, d) => {
      // LAION-style admission gate, fully oracled: REAL decode supplies
      // (w, h, decode_ok) that DuckDB recomputes from the id; captions are
      // perturbed deterministically (i%7 → 1 token, i%13 → 200 tokens) so
      // every caption branch fires, and crafted undecodable/tiny rows
      // exercise the decode and min-dim branches the healthy fixture can't
      import s.implicits._
      val images = graft.fixtures.ImageGen.generate(s, 200).toDF()
      val i = substring(col("image_id"), 4, 10).cast("long")
      val longCap = Seq.fill(200)("w").mkString(" ")
      val caps = images.select(col("image_id"),
        when(i % 7 === 0, lit("tiny"))
          .when(i % 13 === 0, lit(longCap))
          .otherwise(col("caption")).as("caption"))
      val meta = graft.multimodal.Multimodal.decodeMeta(s, images).toDF()
        .select(col("image_id"), col("w"), col("h"), col("decode_ok"))
        .join(caps, "image_id")
      val bad = s.range(0, 5).select(
        concat(lit("bad"), col("id")).as("image_id"),
        lit(100).as("w"), lit(100).as("h"), lit(false).as("decode_ok"),
        lit("a b c d").as("caption"))
      val tny = s.range(0, 5).select(
        concat(lit("tny"), col("id")).as("image_id"),
        lit(8).as("w"), lit(100).as("h"), lit(true).as("decode_ok"),
        lit("a b c d").as("caption"))
      // minW/minH = 16 (below the fixture's 32-px floor) so the ASPECT
      // branch is reachable: every out-of-band ratio in the 32..128 dim
      // lattice has a 32-px side, which minW = 64 would shadow
      graft.multimodal.Multimodal.gateImages(
        meta.unionByName(bad).unionByName(tny), minW = 16, minH = 16)
    }),
    "q_image_features" -> ((s, d) => {
      // the q_ann_ivf pattern: emitted rows are the closed-form
      // (image_id, aspect) — DuckDB-replayable from the id — cross-joined
      // with a 1-row guard that exists only while the DECODED pixel
      // features pass the generator's invariants (all 100 rows decode,
      // gradient channel means mid-range, nonzero luma spread). A pixel-
      // path regression empties the guard → 0 rows → driver red. The raw
      // feature values stay pinned by MultimodalSpec.
      val images = graft.fixtures.ImageGen.generate(s, 100).toDF()
      val feats = graft.multimodal.Multimodal.extractFeatures(s, images).toDF()
      val guard = feats.agg(
          count(lit(1)).as("n"),
          min(col("mean_r")).as("lo"), max(col("mean_r")).as("hi"),
          min(col("std_luma")).as("sl"))
        .filter(col("n") === 100 && col("lo") > 60 && col("hi") < 200 && col("sl") > 0)
        .select(lit(1).as("ok"))
      feats.select(col("image_id"), round(col("aspect"), 4).as("aspect"))
        .crossJoin(broadcast(guard)).drop("ok")
    }),
    "q_video_frames" -> ((s, d) => {
      // REAL MJPEG-AVI decode (RIFF walk + per-frame ImageIO JPEG — JDK
      // only, no codec jar), fully oracled: frame counts, timestamps and
      // per-frame decoded dims are closed-form in the clip id
      val media = graft.fixtures.VideoGen.generate(s, 60)
      graft.multimodal.Multimodal.frameSampleAvi(s, media, everyMs = 0, maxFrames = 100)
        .toDF().select(col("media_id"), col("frame_idx"), col("ts_ms"),
          col("w"), col("h"))
    }),
    "q_gif_frames" -> ((s, d) => {
      // REAL animated-GIF decode (ImageIO's multi-frame reader — JDK only,
      // the second no-codec-jar container after MJPEG-AVI), fully oracled:
      // per-frame delays, cumulative timestamps, the time-bucket frame
      // SELECTION rule, and decoded dims are all closed-form in the clip id
      val media = graft.fixtures.GifGen.generate(s, 50)
      graft.multimodal.Multimodal.frameSampleGif(s, media,
          everyMs = GifSampleEveryMs, maxFrames = GifSampleMaxFrames)
        .toDF().select(col("media_id"), col("frame_idx"), col("ts_ms"),
          col("w"), col("h"))
    }),
    "q_decontaminate" -> ((s, d) => { // eval-set contamination check: the
      // "benchmark" is every 37th document's full text, so its source doc
      // (and any near-dup twin) must be flagged; the oracle joins on the
      // gram STRINGS while the engine joins on their hashes
      val docs = t(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") % 37 === 0).select(col("text"))
      graft.text.Decontaminate.overlap(docs, "doc_id", "text",
        evalSet, "text", n = DecontamN, minHits = DecontamMinHits)
    }),
    "q_image_phash_dups" -> ((s, d) => { // FULLY oracled as of r5: the DCT
      // itself is not SQL-replayable, but the planted-pair SET is
      // deterministic and closed-form — 200 textured PNGs, the first 25
      // re-encoded lossily (the same-image-behind-two-encoders case a crawl
      // deduper must catch). The pipeline (real decode → pHash → banded
      // join → Hamming verify) must return EXACTLY the 25 twins: the
      // oracle goes red if banding recall drops below 1 on re-encode twins
      // OR cross-image discrimination ever admits a false pair. Hamming
      // magnitudes stay pinned in MultimodalSpec (≤ 6 for twins). Textured
      // rasters: a pure gradient's DCT block is degenerate — see
      // ImageGen.texturedRaster.
      import s.implicits._
      val rows = s.range(0, 200, 1, 8).as[Long].mapPartitions(_.flatMap { i =>
        val img = graft.fixtures.ImageGen.texturedRaster(i)
        val base = Seq((f"img$i%04d", graft.fixtures.ImageGen.encode(img, "png")))
        if (i < 25) base :+ ((f"re$i%04d", graft.fixtures.ImageGen.encode(img, "jpeg")))
        else base
      }).toDF("image_id", "bytes")
      graft.multimodal.Multimodal.phashNearDups(s, rows).select("id1", "id2")
    }),

    "q_cross_modal" -> ((s, d) => { // FULLY oracled: planted conflicts are
      // closed-form from the ids (the q_image_phash_dups move). Base = 200
      // generated image+caption rows (captions unique by construction, so
      // every natural visual pair with differing captions would surface —
      // there are none at Hamming ≤ 6 on this fixture, pinned by the
      // oracle). Planted: ids 0–9 get a visual twin under a DRIFTED caption
      // ("drf…"); ids 20–29 get a row reusing their caption over a visually
      // DISTANT image (the bytes/phash of id+100, "spm…") — which also
      // makes (img(id+100), spm(id)) a drifted visual twin, and the oracle
      // enumerates all three families.
      // DCT pHash over TEXTURED rasters — the discriminative combination
      // (the stored 8×8 average hash over the generator's smooth rasters
      // has thousands of natural ≤-6 collisions; a spectral hash over
      // broadband textures has none, q_image_phash_dups' evidence)
      import s.implicits._
      def ph(i: Long) = graft.multimodal.Multimodal.phash64(
        graft.fixtures.ImageGen.texturedRaster(i))
      val base = s.range(0, 200, 1, 8).as[Long].map { i =>
        (f"img$i%010d", ph(i), graft.fixtures.ImageGen.captionOf(i))
      }.toDF("image_id", "phash", "caption")
      val drift = s.range(0, 10).as[Long].map { i =>
        (f"drf$i%010d", ph(i), graft.fixtures.ImageGen.captionOf(i) + " [alt]")
      }.toDF("image_id", "phash", "caption")
      val spam = s.range(20, 30).as[Long].map { i =>
        (f"spm$i%010d", ph(i + 100), graft.fixtures.ImageGen.captionOf(i))
      }.toDF("image_id", "phash", "caption")
      // spamHamming = 16: the planted far-pairs measure Hamming 20-30 and
      // the fixture's closest DISTINCT rasters sit at 8, so 16 splits the
      // two populations with margin on both sides (MultimodalSpec pins
      // both measurements)
      graft.multimodal.Multimodal.crossModalConflicts(
        base.unionByName(drift).unionByName(spam), spamHamming = 16)
    }),

    "q_audio_features" -> ((s, d) => {
      // REAL audio decode (JDK javax.sound.sampled, PCM WAV — no external
      // codec) over generated pure-sine clips, FULLY oracled: every clip
      // holds an integer number of periods, so the decoded RMS is exactly
      // A/√2 up to 16-bit quantization (~3e-6), and the oracle recomputes
      // (sample_rate, n_samples, rms) in closed form from the id alone.
      val audio = graft.fixtures.AudioGen.generate(s, 400)
      graft.multimodal.Multimodal.audioFeatures(s, audio).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 2).as("rms"))
    }),

    "q_phash_knn" -> ((s, d) => {
      // reverse image search over a 64-bit perceptual-hash index
      // (SimilaritySearch.hammingKnn), FULLY oracled: the hash table is
      // mix64(i, 21) — SQL-replayable via the u64mul limb chain — and each
      // query flips 3 known bits of a base row's hash, so DuckDB recomputes
      // every distance and the (dist, id) tie-broken top-5 exactly. The
      // real-pHash path (query with a JPEG, hit its PNG twin) is pinned by
      // MultimodalSpec; this row pins the search operator's semantics.
      import s.implicits._
      val hashes = s.range(0, 2000).as[Long]
        .map(i => (i, graft.functions.GraftHash.mix64(i, 21L))).toDF("id", "hash")
      val queries = (0 until 8).map { q =>
        val b = q * 250L
        val mask = (1L << ((b + 1) % 64).toInt) | (1L << ((b + 17) % 64).toInt) |
          (1L << ((b + 41) % 64).toInt)
        (q, graft.functions.GraftHash.mix64(b, 21L) ^ mask)
      }.toDF("qid", "hash")
      graft.search.SimilaritySearch.hammingKnn(s, hashes, queries, 5)
    }),

    "q_cuckoo_filter_new" -> ((s, d) => {
      // the cuckoo-filter dedup path (north_rule: "Bloom/cuckoo filters"):
      // candidates ride CuckooSet.filterNew — codegen probe routes
      // definitely-new rows past the anti-join — and the emitted set is
      // EXACT, so the oracle is a plain anti-join in SQL: a cuckoo false
      // negative would drop rows and hash-mismatch.
      val li = t(s, d, "lineitem")
      val seen = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("url_hash")).distinct()
      val candidates = li.select(col("l_orderkey").as("url_hash")).distinct()
      val cap = math.max(1024L, seen.count() * 2 / graft.frontier.CuckooSet.DefaultShards)
      val table = graft.frontier.CuckooSet.buildCuckooDf(seen, cap)
      val prov = graft.frontier.CuckooSet.broadcastProvider(s, table)
      graft.frontier.CuckooSet.filterNew(s, candidates, seen, prov)
    }),

    // ---- the crawl engine end-to-end (rows-only: pinned by CrawlParitySpec)
    "q_compress_ratio" -> ((s, d) => {
      // Gopher/CCNet compression-ratio repetition filter, oracled in
      // CLOSED FORM: a synthesized corpus where even ids are a phrase
      // repeated 40× (deflate ratio ~0.03) and odd ids are 1 KB of hex
      // gibberish (ratio ≥ 0.5 — 4 bits/char entropy floors deflate at
      // 0.5); the 0.35 flag threshold has ≥ 0.15 margin on BOTH sides,
      // so the oracle is just `i % 2` — a deflate-plumbing regression
      // (wrong lengths, charset, reset handling) flips flags → red
      import s.implicits._
      val docs = (0L until 60L).map { i =>
        val text =
          if (i % 2 == 0) "the quick brown fox jumps over the lazy dog " * 40
          else (0 until 64)
            .map(j => f"${graft.functions.GraftHash.mix64(i * 131 + j)}%016x")
            .mkString(" ")
        (i, text)
      }.toDF("doc_id", "text")
      graft.text.CompressionRatio.repetitiveFlags(s, docs, "doc_id", "text")
    }),
    "q_crawl_emits" -> ((s, d) => {
      val cfg = graft.fixtures.WebConfig(numSeeds = 30, rounds = 3)
      val state = java.nio.file.Files.createTempDirectory("q-crawl-state").toString
      val sink = java.nio.file.Files.createTempDirectory("q-crawl-sink").toString
      graft.crawl.CrawlJob.run(s, cfg, state, sink)
      graft.crawl.CrawlJob.readEmits(s, sink)
        .select(col("round"), col("status"), col("host"), col("seq"),
          col("ord"), col("url_hash"), col("priority"))
    })
  )

  /** Recall floor the q_ann_ivf partial probe (nprobe 8/16) must clear for
    * the query to emit rows (measured 0.7–0.9 across the driver SFs,
    * deterministically; the floor leaves ≥ 0.2 margin everywhere).
    */
  val AnnIvfRecallFloor = 0.5

  /** q_ann_pq guard floor — measured ADC recall@10 (deterministic per SF)
    * is recorded next to the query; the floor sits under it with margin.
    */
  val AnnPqRecallFloor = 0.5

  /** q_url_blocklist entries — deliberately non-overlapping (no host
    * matches two), at three suffix depths: a whole registrable domain, one
    * host under another domain, one fully-qualified host.
    */
  val BlockedDomains = Seq("example3.com", "host7.example2.com",
    "sub1.host1.example1.com")

  /** q_gif_frames sampling window: 100 ms buckets over per-frame delays of
    * 30–100 ms means some consecutive frames share a bucket (dropped) and
    * some don't (kept) — the rule does real work on the fixture.
    */
  val GifSampleEveryMs = 100L
  val GifSampleMaxFrames = 4

  /** q_decontaminate: 8-token grams, ≥ 3 distinct shared grams = flagged —
    * one coincidental 8-gram never flags, any real excerpt does.
    */
  val DecontamN = 8
  val DecontamMinHits = 3L

  /** q_line_dedup drop threshold: a line in ≥ 30 distinct docs is
    * template. On the fixture the planted copyright (every doc) and
    * newsletter (every 3rd doc) lines cross it at every SF (df = N and
    * N/3 over N ≥ 500 docs — dropped), the "cluster line (id mod 97)"
    * plant sits below it at the 500-doc SFs (df ≈ 5, kept) and above at
    * sf0.1's 5000 docs (df ≈ 51, dropped), and content chunks are df ≈ 1
    * (kept) — both threshold branches do real work and the oracle
    * recomputes the census itself, so any regime is checked wherever the
    * driver runs it.
    */
  val LineDedupMinDf = 30L

  /** Shared-fingerprint floor for q_fingerprint_dups: low enough that the
    * corpus's near-dup pairs (the minhash twins) surface, high enough that
    * a single coincidentally-shared 8-gram doesn't pair two documents.
    */
  val FingerprintMinShared = 5

  /** The q_pii_scrub fixture: documents text with deterministic PII spans
    * appended from the doc_id (ids ≡ 0 mod 3 get an email, mod 4 an IPv4,
    * mod 5 a phone — so some rows carry several, most carry none). Both
    * sides of the oracle rebuild this same string, so the match verifies
    * detection + redaction, not the fixture.
    */
  private def piiFixtureText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 10).cast("string"), lit(".org"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"), lit("."),
          (col("doc_id") % 7).cast("string"), lit(".25"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call +1 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      .as("t2"))

  /** The q_repetition fixture: the document's whitespace tokens re-joined
    * into 6-token "lines"; ids ≡ 0 (mod 4) get their FIRST line appended
    * twice (planted duplicate lines — both count-dup and char-dup fractions
    * become non-zero for exactly those ids). Emits (doc_id, lines).
    */
  private def repetitionFixtureLines(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val nch = floor((size(toks) + lit(5)) / lit(6.0)).cast("int")
    val chunks = transform(sequence(lit(0), nch - 1),
      j => array_join(slice(toks, j * 6 + lit(1), lit(6)), " "))
    docs.select(col("doc_id"),
      concat(chunks,
        when(col("doc_id") % 4 === 0,
          array(element_at(chunks, 1), element_at(chunks, 1)))
          .otherwise(array().cast("array<string>"))).as("lines"))
  }

  /** The q_line_dedup fixture: the document's 6-token chunk lines (the
    * q_repetition lineification) plus three planted template lines — the
    * copyright line in EVERY doc, the newsletter line in every 3rd, and a
    * per-(id mod 97)-cluster line. Emits (doc_id, lines); the oracle
    * rebuilds the identical arrays, so the match verifies the DEDUP, not
    * the fixture.
    */
  private def lineDedupFixtureLines(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val nch = floor((size(toks) + lit(5)) / lit(6.0)).cast("int")
    val chunks = transform(sequence(lit(0), nch - 1),
      j => array_join(slice(toks, j * 6 + lit(1), lit(6)), " "))
    docs.select(col("doc_id"),
      concat(chunks,
        array(lit("copyright example corp all rights reserved")),
        when(col("doc_id") % 3 === 0,
          array(lit("subscribe to our newsletter today")))
          .otherwise(array().cast("array<string>")),
        array(concat(lit("cluster line "),
          (col("doc_id") % 97).cast("string")))).as("lines"))
  }

  /** The q_pagerank link graph: every document emits exactly 3 out-links,
    * dst_j = (doc_id·1103515245 + j·12345) mod N for j ∈ {1,2,3} — plain
    * 64-bit integer arithmetic (doc_id ≤ ~10^6 at every test SF, so the
    * product stays far under Long.MaxValue), replayed verbatim by the
    * oracle. Self-loops and parallel edges are legal multiset edges; with
    * exactly 3 out-edges per node there are no danglers, so PageRank's
    * dangling-mass branch stays off in this query (its on-branch is pinned
    * by PageRankSpec instead).
    */
  private def docLinkEdges(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("n_docs"))
      .select(col("src"),
        ((col("src") * 1103515245L + col("j") * 12345L) % col("n_docs")).as("dst"))

  /** The q_anchor_text fixture: the q_pagerank link multiset with anchors.
    * Links j ∈ {1,2} carry case/whitespace VARIANTS of the same logical
    * anchor ("  Anchor N" / "anchor  N", N = (src+dst) mod 5) — two sources
    * with src₁ ≡ src₂ (mod 5) pointing at the same dst merge only under
    * normalization, so the count verifies it; j = 3 carries a dst-local
    * anchor ("see page dst%7"). Both sides rebuild the normalized rows.
    */
  private def anchorFixtureLinks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("n_docs"))
      .select(col("src"), col("j"),
        ((col("src") * 1103515245L + col("j") * 12345L) % col("n_docs")).as("dst"))
      .select(col("src"), col("dst"),
        when(col("j") === 1,
          concat(lit("  Anchor "), ((col("src") + col("dst")) % 5).cast("string")))
          .when(col("j") === 2,
            concat(lit("anchor  "), ((col("src") + col("dst")) % 5).cast("string")))
          .otherwise(concat(lit("see page "), (col("dst") % 7).cast("string")))
          .as("anchor"))

  /** The q_sitemap fixture: every 10th document carries a sitemapindex of
    * two child sitemaps; the rest carry a urlset of 1–3 page entries
    * (hosts = the blocklist fixture pattern). Planted parser work: `<loc>`
    * values arrive space-padded with an `&amp;` entity, and lastmod exists
    * only for even entry indices. Both sides rebuild the same rows, so the
    * match verifies extraction + unescaping, not the fixture.
    */
  /** Two WARC record strings per doc (warcinfo + response carrying the doc
    * text; Content-Length in UTF-8 octets) — shared by the plain and gzip
    * WARC queries so both parse the IDENTICAL archives.
    */
  private def warcFixtureRecords(docs: DataFrame): DataFrame = {
    val meta = concat(lit("graft-warcinfo "), col("doc_id"))
    val r1 = concat(
      lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
      length(meta), lit("\r\n\r\n"), meta, lit("\r\n\r\n"))
    val r2 = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://h"),
      col("doc_id"), lit(".example.com/page\r\nContent-Length: "),
      octet_length(col("text")), lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
    docs.select(col("doc_id"), r1.as("r1"), r2.as("r2"))
  }

  /** The oracle-facing WARC projection (md5 over the payload's UTF-8 bytes). */
  private def warcProjection: Seq[Column] = Seq(
    col("doc_id"), col("rec_idx"), col("warc_type"), col("target_uri"),
    col("content_length"), md5(col("payload").cast("binary")).as("payload_md5"))

  private def sitemapFixtureXml(docs: DataFrame): DataFrame = {
    val host = concat(lit("sub"), (col("doc_id") % 3).cast("string"),
      lit(".host"), (col("doc_id") % 23).cast("string"),
      lit(".example"), (col("doc_id") % 7).cast("string"), lit(".com"))
    def urlEntry(j: Column): Column = concat(
      lit("<url><loc> https://"), host, lit("/page/"),
      col("doc_id").cast("string"), lit("/"), j.cast("string"),
      lit("?a=1&amp;b=2 </loc>"),
      when(j % 2 === 0, concat(lit("<lastmod>2026-0"),
        ((col("doc_id") % 9) + 1).cast("string"), lit("-15</lastmod>")))
        .otherwise(lit("")),
      lit("</url>"))
    val urlset = concat(lit("<?xml version=\"1.0\"?><urlset>"),
      array_join(transform(sequence(lit(0), col("doc_id") % 3), urlEntry(_)), ""),
      lit("</urlset>"))
    val index = concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
      array_join(transform(sequence(lit(0), lit(1)), j => concat(
        lit("<sitemap><loc>https://"), host, lit("/sitemap-"),
        j.cast("string"), lit(".xml</loc></sitemap>"))), ""),
      lit("</sitemapindex>"))
    docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, index).otherwise(urlset).as("xml"))
  }

  // ---- SQL builders for the hash-replay oracles --------------------------
  // DuckDB's HUGEINT is signed int128, so a 64×64-bit product overflows it;
  // multiply-mod-2^64 is built from 32-bit limbs instead. Each builder is
  // inlined ONCE per CTE stage to keep the statement size linear.
  private def u64mul(a: String, b: String): String = {
    val m = "4294967295"
    val lolo = s"((($a) & $m) * (($b) & $m))"
    val mid1 = s"(((($a) >> 32) * (($b) & $m)) & $m)"
    val mid2 = s"(((($a) & $m) * (($b) >> 32)) & $m)"
    val mid = s"(($mid1 + $mid2) & $m)"
    s"((($lolo::HUGEINT + ($mid::HUGEINT * 4294967296::HUGEINT)) " +
      "% 18446744073709551616::HUGEINT)::UBIGINT)"
  }

  /** Addition mod 2^64 (UBIGINT + overflows in DuckDB; route via HUGEINT). */
  private def u64add(a: String, b: String): String =
    s"(((($a)::HUGEINT + ($b)::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT)"

  /** `floorMod(signed64(e), m)` over an unsigned-carried 64-bit value — the
    * JVM's floorMod(long, m) replayed on a UBIGINT column (2^64 mod m ≠ 0
    * for m ∉ powers of two, so a plain unsigned % would diverge).
    */
  private def sMod(e: String, m: Int): String =
    s"((((CASE WHEN ($e) >= 9223372036854775808::UBIGINT " +
      s"THEN ($e)::HUGEINT - 18446744073709551616::HUGEINT " +
      s"ELSE ($e)::HUGEINT END) % $m) + $m) % $m)::BIGINT"

  /** The unsigned-carried 64-bit value reinterpreted as the JVM's signed
    * long — for oracles that must ORDER by the hash the way Spark does.
    */
  private def toSigned(e: String): String =
    s"((CASE WHEN ($e) >= 9223372036854775808::UBIGINT " +
      s"THEN ($e)::HUGEINT - 18446744073709551616::HUGEINT " +
      s"ELSE ($e)::HUGEINT END)::BIGINT)"

  /** CTE prefix replaying [[graft.functions.GraftHash.mix64]] (splitmix64
    * finalizer) for ids 0..n-1: emits table `mx` with column `i` plus, for
    * each (salt, name), `name` = mix64(mix64(i) XOR salt) — the seed scheme
    * every fixture generator ([[graft.fixtures.ImageGen]]/VideoGen) derives
    * its closed-form parameters from. One CTE per mix stage keeps the
    * u64mul limb expansion linear in statement size.
    */
  private def mix64ChainSql(n: Int, outs: Seq[(Long, String)]): String =
    mix64ChainSqlOver(s"SELECT i::UBIGINT AS i FROM range($n) t(i)", outs)

  /** [[mix64ChainSql]] over an arbitrary id source (`idsSelect` must yield a
    * single UBIGINT column `i`) — lets table-driven operators (the sampling
    * family hashes `doc_id`) reuse the same limb-exact replay.
    */
  private def mix64ChainSqlOver(idsSelect: String, outs: Seq[(Long, String)]): String = {
    val G = "11400714819323198485::UBIGINT"  // 0x9e3779b97f4a7c15
    val C1 = "13787848793156543929::UBIGINT" // 0xbf58476d1ce4e5b9
    val C2 = "10723151780598845931::UBIGINT" // 0x94d049bb133111eb
    def s1(z: String) = u64add(z, G)
    def s2(z: String) = u64mul(s"xor($z, $z >> 30)", C1)
    def s3(z: String) = u64mul(s"xor($z, $z >> 27)", C2)
    def s4(z: String) = s"xor($z, $z >> 31)"
    def cols(f: String => String, names: Seq[String]) =
      names.map(c => s"${f(c)} AS $c").mkString(", ")
    val names = outs.map(_._2)
    s"""ids AS ($idsSelect),
      a1 AS (SELECT i, ${s1("i")} AS z FROM ids),
      a2 AS (SELECT i, ${s2("z")} AS z FROM a1),
      a3 AS (SELECT i, ${s3("z")} AS z FROM a2),
      a4 AS (SELECT i, ${s4("z")} AS mi FROM a3),
      b0 AS (SELECT i, ${outs.map { case (k, c) => s"xor(mi, $k::UBIGINT) AS $c" }.mkString(", ")} FROM a4),
      b1 AS (SELECT i, ${cols(s1, names)} FROM b0),
      b2 AS (SELECT i, ${cols(s2, names)} FROM b1),
      b3 AS (SELECT i, ${cols(s3, names)} FROM b2),
      mx AS (SELECT i, ${cols(s4, names)} FROM b3)"""
  }

  /** The full q_simhash_neardups oracle: FNV-1a-over-codepoints + murmur
    * finalizer per token (bit-exact with [[graft.functions.TokenHash]]),
    * per-bit majority vote, 4×16-bit banding, Hamming ≤ 6 verify — the same
    * algorithm [[graft.dedup.Dedup.simhashNearDups]] runs, replayed in one
    * SQL statement.
    */
  private def simhashOracleSql: String = {
    val fnvFold = u64mul("xor(acc, c)", "1099511628211::UBIGINT")
    val mix1 = u64mul("xor(h, h >> 33)", "18397679294719823053::UBIGINT")
    val mix2 = u64mul("xor(h, h >> 33)", "14181476777654086739::UBIGINT")
    s"""WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN len(trim(text)) = 0 THEN []
            ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t
        FROM documents),
      f0 AS (
        SELECT doc_id, list_reduce(
          list_prepend(14695981039346656037::UBIGINT,
            list_transform(range(1, length(t)+1), i -> unicode(t[i:i])::UBIGINT)),
          (acc, c) -> $fnvFold) AS h
        FROM toks),
      f1 AS (SELECT doc_id, $mix1 AS h FROM f0),
      f2 AS (SELECT doc_id, $mix2 AS h FROM f1),
      th AS (SELECT doc_id, xor(h, h >> 33) AS h FROM f2),
      bits AS (
        SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
        FROM th, range(64) r(b) GROUP BY doc_id, b),
      usig AS (
        SELECT d.doc_id, coalesce(bo.us, 0::UBIGINT) AS us
        FROM documents d LEFT JOIN (
          SELECT doc_id, bit_or(CASE WHEN cnt > 0 THEN (1::UBIGINT << b)
            ELSE 0::UBIGINT END) AS us
          FROM bits GROUP BY doc_id) bo USING (doc_id)),
      sigs AS (
        SELECT doc_id, (CASE WHEN us >= 9223372036854775808::UBIGINT
          THEN (us::HUGEINT - 18446744073709551616::HUGEINT)
          ELSE us::HUGEINT END)::BIGINT AS sim
        FROM usig),
      banded AS (
        SELECT doc_id, sim, band, (sim >> (band*16)) & 65535 AS bh
        FROM sigs, range(4) r(band)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sim AS s1, b.sim AS s2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      SELECT id1, id2, bit_count(xor(s1, s2)) AS hamming FROM cand
      WHERE bit_count(xor(s1, s2)) <= 6"""
  }

  /** Shared winnowing CTE prefix (cs → gs → ms): per-document polynomial
    * k-gram hashes + sliding-window minima lists, bit-exact with
    * [[graft.functions.Winnow]] (k=8, w=4) — B/M < 2^31 keep every product
    * inside plain BIGINT arithmetic.
    */
  private def winnowCte: String = {
    val (b, m, k, w) = (graft.functions.Winnow.B, graft.functions.Winnow.M, 8, 4)
    s"""cs AS (
        SELECT doc_id, list_transform(range(1, length(text)+1),
          i -> unicode(text[i:i])::BIGINT) AS c
        FROM documents),
      gs AS (
        SELECT doc_id, CASE WHEN len(c) < $k
          THEN [list_reduce(list_prepend(0::BIGINT, c), (a, x) -> (a * $b + x) % $m)]
          ELSE list_transform(range(1, len(c) - $k + 2),
            i -> list_reduce(list_prepend(0::BIGINT, c[i:i+${k - 1}]),
              (a, x) -> (a * $b + x) % $m))
          END AS g
        FROM cs),
      ms AS (
        SELECT doc_id, CASE WHEN len(g) <= $w THEN [list_min(g)]
          ELSE list_transform(range(1, len(g) - $w + 2), i -> list_min(g[i:i+${w - 1}]))
          END AS m
        FROM gs)"""
  }

  /** The q_fingerprint oracle: winnow minima → distinct count. */
  private def fingerprintOracleSql: String =
    s"""WITH $winnowCte
      SELECT doc_id, len(list_distinct(m)) AS n_fingerprints FROM ms"""

  /** The q_fingerprint_dups oracle: the same winnow replay, then the full
    * operator — inverted index, ≤-maxBucket cap (identical HAVING), pair
    * shared-print counts ≥ [[FingerprintMinShared]].
    */
  private def fingerprintDupsOracleSql: String =
    s"""WITH $winnowCte,
      fps AS (SELECT doc_id, unnest(list_distinct(m)) AS fp FROM ms),
      small AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000),
      pf AS (SELECT f.doc_id, f.fp FROM fps f JOIN small USING (fp))
      SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS n_shared
      FROM pf x JOIN pf y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING count(*) >= $FingerprintMinShared"""

  /** The q_pagerank oracle: rebuild the 3-outlink edge multiset with the
    * same integer arithmetic and unroll the same 5 power iterations —
    * deg(u) ≡ 3 by construction, so each edge carries rank/3. round(,8)
    * absorbs summation-order noise (double-adds commute to ~1e-16 relative,
    * eight decimal places of margin on ranks ~ 1/N).
    */
  private def pagerankOracleSql: String = {
    def it(prev: String, nxt: String): String =
      s"""$nxt AS (
        SELECT nodes.id,
          (1.0 - 0.85) / (SELECT nn FROM nn) + 0.85 * coalesce(c.s, 0.0) AS rank
        FROM nodes LEFT JOIN (
          SELECT e.dst AS id, sum(r.rank / 3.0) AS s
          FROM edges e JOIN $prev r ON e.src = r.id
          GROUP BY e.dst) c ON nodes.id = c.id)"""
    val iters = (0 until 5).map(i => it(s"r$i", s"r${i + 1}")).mkString(",\n      ")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*)::DOUBLE AS nn FROM nodes),
      edges AS (
        SELECT doc_id AS src,
          (doc_id * 1103515245 + j * 12345) % (SELECT count(*) FROM documents) AS dst
        FROM documents, (VALUES (1), (2), (3)) t(j)),
      r0 AS (SELECT id, 1.0 / (SELECT nn FROM nn) AS rank FROM nodes),
      $iters
      SELECT id AS doc_id, round(rank, 8) AS rank FROM r5"""
  }

  /** The q_tfidf oracle: term/document frequencies, sklearn-style smoothed
    * idf, and the identical top-5 cut — ranked over the ROUNDED score with
    * a term tie-break, so a last-ulp `ln` divergence between engines
    * cannot flip the selection.
    */
  private def tfidfOracleSql: String =
    """WITH terms AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
         FROM documents WHERE length(trim(text)) > 0),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_docs FROM terms GROUP BY term),
       n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
           round(tf.tf * (ln(((SELECT n_docs FROM n) + 1.0) / (dfreq.df_docs + 1.0)) + 1.0), 6) AS tfidf
         FROM tf JOIN dfreq ON tf.term = dfreq.term),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY doc_id
           ORDER BY tfidf DESC, term ASC) AS rank
         FROM scored)
       SELECT doc_id, term, tf, df_docs, tfidf, rank FROM ranked WHERE rank <= 5"""

  /** The q_sitemap oracle: closed-form reconstruction of every entry the
    * fixture plants — unescaped loc, trimmed padding, lastmod only on even
    * entry indices, sitemapindex kind for ids ≡ 0 (mod 10).
    */
  private def sitemapOracleSql: String =
    """WITH h AS (SELECT doc_id,
         'sub' || (doc_id % 3) || '.host' || (doc_id % 23) ||
         '.example' || (doc_id % 7) || '.com' AS host
       FROM documents),
       urls AS (
         SELECT doc_id, 'url' AS kind,
           'https://' || host || '/page/' || doc_id || '/' || j || '?a=1&b=2' AS loc,
           CASE WHEN j % 2 = 0 THEN '2026-0' || (doc_id % 9 + 1) || '-15' END AS lastmod
         FROM h, LATERAL (SELECT unnest(generate_series(0, doc_id % 3)) AS j)
         WHERE doc_id % 10 <> 0),
       idx AS (
         SELECT doc_id, 'sitemap' AS kind,
           'https://' || host || '/sitemap-' || j || '.xml' AS loc,
           CAST(NULL AS VARCHAR) AS lastmod
         FROM h, (VALUES (0), (1)) t(j) WHERE doc_id % 10 = 0)
       SELECT * FROM urls UNION ALL SELECT * FROM idx"""

  /** The q_anchor_text oracle: rebuild the link multiset, apply the SAME
    * normalization in SQL (lower + trim + whitespace collapse), count per
    * (dst, anchor), identical top-3 cut with the anchor tie-break.
    */
  private def anchorTextOracleSql: String =
    """WITH e AS (
         SELECT doc_id AS src, j,
           (doc_id * 1103515245 + j * 12345) % (SELECT count(*) FROM documents) AS dst
         FROM documents, (VALUES (1), (2), (3)) t(j)),
       a AS (
         SELECT dst, lower(trim(regexp_replace(
           CASE WHEN j = 1 THEN '  Anchor ' || ((src + dst) % 5)
                WHEN j = 2 THEN 'anchor  ' || ((src + dst) % 5)
                ELSE 'see page ' || (dst % 7) END, '\s+', ' ', 'g'))) AS anchor
         FROM e),
       c AS (SELECT dst, anchor, count(*) AS n_links FROM a GROUP BY dst, anchor),
       r AS (SELECT *, row_number() OVER (PARTITION BY dst
           ORDER BY n_links DESC, anchor ASC) AS rank FROM c)
       SELECT dst, anchor, n_links, rank FROM r WHERE rank <= 3"""

  /** The q_lm_quality oracle: the same whitespace tokens, bigram/unigram
    * counts, vocabulary size, add-0.5 smoothing and per-doc mean −ln p.
    */
  private def lmQualityOracleSql: String =
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
         FROM documents WHERE length(trim(text)) > 0),
       big AS (
         SELECT doc_id, t[i] AS u, t[i+1] AS v
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
       c2 AS (SELECT u, v, count(*)::DOUBLE AS c2 FROM big GROUP BY u, v),
       c1 AS (SELECT u, count(*)::DOUBLE AS c1 FROM big GROUP BY u),
       vocab AS (SELECT count(DISTINCT tok)::DOUBLE AS vs
         FROM (SELECT unnest(t) AS tok FROM toks)),
       scored AS (
         SELECT b.doc_id,
           -ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * (SELECT vs FROM vocab))) AS nll
         FROM big b JOIN c2 ON b.u = c2.u AND b.v = c2.v JOIN c1 ON b.u = c1.u)
       SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
       FROM scored GROUP BY doc_id"""

  /** Shared CTE chain for the cluster oracles: the exact word-3-shingle
    * Jaccard pair set (the same twin `q_minhash_neardups` is checked
    * against), symmetric edge closure, and a recursive min-label reach set.
    * `cc` holds (node, lab) for every label that reaches the node through
    * monotone hops (lab < hop target) — the component minimum m reaches
    * every member because every other member id is > m, so
    * min(lab) GROUP BY node is exactly the component id.
    */
  private val minhashClusterCte: String =
    """toks AS (
         SELECT doc_id AS id, text, regexp_split_to_array(trim(text), '\s+') AS tk
         FROM documents),
       sh AS (
         SELECT id, CASE WHEN len(tk) < 3 THEN [text]
           ELSE list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
         FROM toks),
       pairs AS (
         SELECT a.id AS id1, b.id AS id2
         FROM sh a JOIN sh b ON a.id < b.id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       edges AS (
         SELECT id1 AS a, id2 AS b FROM pairs
         UNION SELECT id2, id1 FROM pairs),
       cc AS (
         SELECT a AS node, a AS lab FROM edges
         UNION
         SELECT e.b AS node, cc.lab FROM cc JOIN edges e ON e.a = cc.node
         WHERE cc.lab < e.b)"""

  /** q_image_meta oracle: ImageGen dims/fmt replayed from the id alone. */
  /** q_image_buckets: dims replayed closed-form from the id, then the same
    * nearest-log-aspect argmin over the same ladder, first-wins tie order
    * reproduced by the (dist, bw) sort (the ladder is bw-ascending). Margins
    * between best and second-best distance on this dim lattice are ≥ 0.037
    * in ln-space — float divergence between engines cannot flip the argmin.
    */
  private def imageBucketsOracleSql: String =
    s"""WITH ${mix64ChainSql(200, Seq(1L -> "wa", 2L -> "hb"))},
      dims AS (SELECT 'img' || format('{:010d}', i::BIGINT) AS image_id,
        CAST(32 + ${sMod("wa", 4)} * 32 AS INTEGER) AS w,
        CAST(32 + ${sMod("hb", 4)} * 32 AS INTEGER) AS h FROM mx),
      buckets(bw, bh) AS (VALUES (128,512),(192,320),(224,288),(256,256),
        (288,224),(320,192),(512,128)),
      scored AS (SELECT image_id, bw, bh,
        row_number() OVER (PARTITION BY image_id
          ORDER BY abs(ln(w::DOUBLE / h) - ln(bw::DOUBLE / bh)), bw) AS rn
        FROM dims, buckets)
      SELECT image_id, bw AS bucket_w, bh AS bucket_h FROM scored WHERE rn = 1"""

  private def imageMetaOracleSql: String =
    s"""WITH ${mix64ChainSql(200, Seq(1L -> "wa", 2L -> "hb"))}
      SELECT 'img' || format('{:010d}', i::BIGINT) AS image_id,
        CAST(32 + ${sMod("wa", 4)} * 32 AS INTEGER) AS w,
        CAST(32 + ${sMod("hb", 4)} * 32 AS INTEGER) AS h,
        CASE WHEN i % 4 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
        1 AS decode_ok
      FROM mx"""

  /** q_image_gate oracle: the full reason chain replayed — dims from the
    * mix64 closed form, caption token counts from the perturbation rule,
    * the crafted decode/too_small rows appended verbatim.
    */
  private def imageGateOracleSql: String =
    s"""WITH ${mix64ChainSql(200, Seq(1L -> "wa", 2L -> "hb"))},
      base AS (
        SELECT 'img' || format('{:010d}', i::BIGINT) AS image_id,
          CAST(32 + ${sMod("wa", 4)} * 32 AS DOUBLE) AS w,
          CAST(32 + ${sMod("hb", 4)} * 32 AS DOUBLE) AS h,
          1 AS decode_ok,
          CASE WHEN i % 7 = 0 THEN 1
               WHEN i % 13 = 0 THEN 200 ELSE 6 END AS tok
        FROM mx
        UNION ALL
        SELECT 'bad' || i, 100, 100, 0, 4 FROM range(5) t(i)
        UNION ALL
        SELECT 'tny' || i, 8, 100, 1, 4 FROM range(5) t(i)),
      gated AS (
        SELECT image_id,
          CASE WHEN decode_ok = 0 THEN 'decode'
               WHEN w < 16 OR h < 16 THEN 'too_small'
               WHEN w / h < 0.5 OR w / h > 2.0 THEN 'aspect'
               WHEN tok < 3 THEN 'caption_short'
               WHEN tok > 128 THEN 'caption_long'
               ELSE 'ok' END AS reason
        FROM base)
      SELECT image_id, reason,
        CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS pass
      FROM gated"""

  /** q_image_features oracle: closed-form aspect (the guard is Spark-side). */
  private def imageFeaturesOracleSql: String =
    s"""WITH ${mix64ChainSql(100, Seq(1L -> "wa", 2L -> "hb"))}
      SELECT 'img' || format('{:010d}', i::BIGINT) AS image_id,
        round(CAST(32 + ${sMod("wa", 4)} * 32 AS DOUBLE) /
              (32 + ${sMod("hb", 4)} * 32), 4) AS aspect
      FROM mx"""

  /** q_video_frames oracle: VideoGen fps / frame count / dims from the id. */
  private def videoFramesOracleSql: String =
    s"""WITH ${mix64ChainSql(60, Seq(1L -> "wa", 2L -> "hb", 11L -> "fc", 12L -> "nd"))},
      params AS (SELECT i,
        CAST(32 + ${sMod("wa", 4)} * 32 AS INTEGER) AS w,
        CAST(32 + ${sMod("hb", 4)} * 32 AS INTEGER) AS h,
        (5 + ${sMod("fc", 6)}) AS fps,
        (4 + ${sMod("nd", 5)}) AS nf FROM mx),
      f AS (SELECT i, w, h, fps, unnest(range(nf)) AS fi FROM params)
      SELECT 'vid' || format('{:06d}', i::BIGINT) AS media_id,
        CAST(fi AS INTEGER) AS frame_idx,
        CAST(fi * 1000 // fps AS BIGINT) AS ts_ms, w, h
      FROM f"""

  /** q_gif_frames oracle: GifGen per-frame delays replayed from the id
    * (salts 40..46), cumulative timestamps via list-prefix sums, and the
    * SAME first-frame-per-bucket selection rule as a lag window — the
    * oracle re-derives which frames were kept, not just their fields.
    */
  private def gifFramesOracleSql: String = {
    val delayOuts = (0 until 7).map(f => (40L + f) -> s"d$f")
    val delayList = (0 until 7).map(f => s"(3 + ${sMod(s"d$f", 8)})").mkString("[", ", ", "]")
    s"""WITH ${mix64ChainSql(50, Seq(1L -> "wa", 2L -> "hb", 31L -> "nf") ++ delayOuts)},
      params AS (SELECT i,
        CAST(32 + ${sMod("wa", 4)} * 32 AS INTEGER) AS w,
        CAST(32 + ${sMod("hb", 4)} * 32 AS INTEGER) AS h,
        (3 + ${sMod("nf", 5)}) AS nfr, $delayList AS dl FROM mx),
      f AS (SELECT i, w, h, dl, unnest(range(nfr)) AS fi FROM params),
      t AS (SELECT i, w, h, fi,
        10 * CASE WHEN fi = 0 THEN 0 ELSE list_sum(dl[1:fi]) END AS ts FROM f),
      lg AS (SELECT i, w, h, fi, ts,
        lag(ts) OVER (PARTITION BY i ORDER BY fi) AS pts FROM t),
      k AS (SELECT i, w, h, fi, ts,
          row_number() OVER (PARTITION BY i ORDER BY fi) AS rk
        FROM lg WHERE fi = 0 OR ts // $GifSampleEveryMs > pts // $GifSampleEveryMs)
      SELECT 'gif' || format('{:06d}', i::BIGINT) AS media_id,
        CAST(fi AS INTEGER) AS frame_idx, CAST(ts AS BIGINT) AS ts_ms, w, h
      FROM k WHERE rk <= $GifSampleMaxFrames"""
  }

  /** q_decontaminate oracle: the same lowercase/whitespace tokenization and
    * n-gram windows, but joined on the gram STRINGS (the engine joins on
    * xxhash64 of them — a collision that changed any count would mismatch).
    */
  private def decontaminateOracleSql: String = {
    val n = DecontamN
    s"""WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
      dg AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - $n + 2),
          j -> array_to_string(t[j:j+${n - 1}], ' '))) AS gram
        FROM tok WHERE len(t) >= $n),
      eg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 37 = 0)
      SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
      FROM dg g JOIN eg USING (gram)
      GROUP BY g.doc_id HAVING count(DISTINCT g.gram) >= $DecontamMinHits"""
  }

  /** q_line_dedup oracle: rebuild the same lineification + template
    * plants, then recompute the dedup RELATIONALLY on the line strings —
    * distinct-doc census, sharp ≥ threshold, anti-join, ordered
    * string_agg rebuild — deliberately never touching the engine's
    * xxhash64 key (a collision that changed any count or drop decision
    * would mismatch).
    */
  private def lineDedupOracleSql: String =
    s"""WITH tok AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
      ch AS (SELECT doc_id, list_transform(range(0, (len(t)+5)//6),
          j -> array_to_string(t[j*6+1:j*6+6], ' ')) AS c FROM tok),
      ln AS (SELECT doc_id, list_concat(list_concat(list_append(c,
          'copyright example corp all rights reserved'),
          CASE WHEN doc_id % 3 = 0
            THEN ['subscribe to our newsletter today']
            ELSE CAST([] AS VARCHAR[]) END),
          ['cluster line ' || CAST(doc_id % 97 AS VARCHAR)]) AS lines
        FROM ch),
      ex AS (SELECT doc_id, unnest(lines) AS line,
          unnest(range(1, len(lines)+1)) AS pos FROM ln),
      nrm AS (SELECT doc_id, pos, line,
          trim(regexp_replace(lower(line), '\\s+', ' ', 'g')) AS nl FROM ex),
      com AS (SELECT nl FROM nrm GROUP BY nl
          HAVING count(DISTINCT doc_id) >= $LineDedupMinDf),
      kept AS (SELECT n.doc_id, n.pos, n.line FROM nrm n
          ANTI JOIN com c ON n.nl = c.nl),
      tot AS (SELECT doc_id, count(*) AS n_total FROM nrm GROUP BY doc_id),
      agg AS (SELECT doc_id, count(*) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
        coalesce(a.n_kept, 0) AS n_kept,
        t.n_total - coalesce(a.n_kept, 0) AS n_dropped
      FROM tot t LEFT JOIN agg a USING (doc_id)"""

  /** q_repetition oracle: rebuild the same 6-token lineification + planted
    * duplicates, then recompute all three metrics — the list-lambda forms
    * for the line fractions, and the top-bigram count RELATIONALLY
    * (unnest → group → max), deliberately a different algorithm than the
    * engine's sort+run-length pass.
    */
  private def repetitionOracleSql: String =
    s"""WITH tok AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
      ch AS (SELECT doc_id, list_transform(range(0, (len(t)+5)//6),
          j -> array_to_string(t[j*6+1:j*6+6], ' ')) AS c FROM tok),
      ln AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
          THEN list_concat(c, [c[1], c[1]]) ELSE c END AS lines FROM ch),
      tt AS (SELECT doc_id, lines,
          string_split(array_to_string(lines, ' '), ' ') AS tk FROM ln),
      bg AS (SELECT doc_id, lines,
          list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j+1]) AS g
        FROM tt),
      bgx AS (SELECT doc_id, unnest(g) AS gram FROM bg),
      top AS (SELECT doc_id, max(cnt) AS topc FROM
        (SELECT doc_id, gram, count(*) AS cnt FROM bgx GROUP BY 1, 2)
        GROUP BY 1)
      SELECT b.doc_id,
        len(b.lines)::INTEGER AS n_lines,
        round((len(b.lines) - len(list_distinct(b.lines)))::DOUBLE
          / len(b.lines), 6) AS dup_line_frac,
        round(list_sum(list_transform(b.lines, x -> CASE
            WHEN len(list_filter(b.lines, y -> y = x)) > 1
            THEN length(x) ELSE 0 END))::DOUBLE
          / list_sum(list_transform(b.lines, x -> length(x))), 6)
          AS dup_char_frac,
        round(t.topc::DOUBLE / len(b.g), 6) AS top_bigram_frac
      FROM bg b JOIN top t USING (doc_id)"""

  /** q_phash_knn oracle: replay mix64(i, 21) hashes, the 3-bit query flips,
    * all Hamming distances and the (dist, id) tie-broken top-5 in SQL.
    * `1 << p` must route through HUGEINT (DuckDB's UBIGINT shift
    * overflow-checks at bit 63).
    */
  private def phashKnnOracleSql: String = {
    def flip(off: Int) = s"((1::HUGEINT << ((i + $off) % 64)::INTEGER)::UBIGINT)"
    s"""WITH ${mix64ChainSql(2000, Seq(21L -> "hv"))},
      h AS (SELECT i::BIGINT AS id, hv FROM mx),
      q AS (SELECT (i // 250)::INTEGER AS qid,
          xor(hv, xor(xor(${flip(1)}, ${flip(17)}), ${flip(41)})) AS qh
        FROM mx WHERE i % 250 = 0),
      sc AS (SELECT q.qid, h.id, bit_count(xor(h.hv, q.qh))::INTEGER AS dist
        FROM h CROSS JOIN q),
      r AS (SELECT qid, id, dist,
          row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rk FROM sc)
      SELECT qid, rk::INTEGER AS rank, id AS neighbor_id, dist
      FROM r WHERE rk <= 5"""
  }

  /** q_sample_stratified oracle: replay the salted mix64 over doc_id and the
    * same per-lang thresholds — verifying sample MEMBERSHIP row-for-row.
    */
  private def sampleStratifiedOracleSql: String =
    s"""WITH ${mix64ChainSqlOver("SELECT doc_id::UBIGINT AS i FROM documents", Seq(77L -> "hv"))},
      sel AS (SELECT i::BIGINT AS doc_id, ${sMod("hv", 10000)} AS b FROM mx)
      SELECT d.doc_id, d.lang FROM documents d JOIN sel USING (doc_id)
      WHERE b < CASE WHEN d.lang = 'en' THEN 5000
        WHEN d.lang IN ('de', 'fr', 'es') THEN 2500 ELSE 10000 END"""

  /** q_sample_topk oracle: rank by the SIGNED mix64 (Spark's sort order)
    * then doc_id within each lang, keep the first 20.
    */
  private def sampleTopkOracleSql: String =
    s"""WITH ${mix64ChainSqlOver("SELECT doc_id::UBIGINT AS i FROM documents", Seq(91L -> "hv"))},
      h AS (SELECT i::BIGINT AS doc_id, ${toSigned("hv")} AS hs FROM mx),
      r AS (SELECT d.lang, d.doc_id,
          row_number() OVER (PARTITION BY d.lang ORDER BY h.hs, d.doc_id) AS rk
        FROM documents d JOIN h USING (doc_id))
      SELECT lang, doc_id, rk FROM r WHERE rk <= 20"""

  /** q_pii_scrub oracle: rebuild the same PII fixture from doc_id, then run
    * the IDENTICAL pattern strings (interpolated from [[graft.text.Pii]] —
    * one source of truth) through RE2 counts and chained redaction; the
    * redacted text is compared by md5, not just counted.
    */
  private def piiScrubOracleSql: String =
    s"""WITH p AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@ex' || (doc_id % 10) || '.org' ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 200) || '.' || (doc_id % 7) || '.25' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-' || format('{:04d}', doc_id % 10000) ELSE '' END AS t2
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(t2, '${Pii.EmailPattern}')) AS n_emails,
        len(regexp_extract_all(t2, '${Pii.Ipv4Pattern}')) AS n_ipv4,
        len(regexp_extract_all(t2, '${Pii.PhonePattern}')) AS n_phones,
        md5(regexp_replace(regexp_replace(regexp_replace(t2,
          '${Pii.EmailPattern}', '<EMAIL>', 'g'),
          '${Pii.Ipv4Pattern}', '<IP>', 'g'),
          '${Pii.PhonePattern}', '<PHONE>', 'g')) AS redacted_md5
      FROM p"""

  def oracleSql: Map[String, String] = Map(
    "q_sample_stratified" -> sampleStratifiedOracleSql,
    "q_sample_topk" -> sampleTopkOracleSql,
    "q_domain_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
         SELECT lang, n,
           round(sqrt(n) / (SELECT sum(sqrt(n)) FROM c), 6) AS weight
         FROM c""",
    "q_shard_assign" ->
      """SELECT doc_id,
           CAST(floor((sum(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
             / 4096.0) AS BIGINT) AS shard_id
         FROM documents""",
    "q_shard_manifest" ->
      """WITH a AS (SELECT n_chars,
           CAST(floor((sum(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
             / 4096.0) AS BIGINT) AS shard_id
         FROM documents)
         SELECT shard_id, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes
         FROM a GROUP BY shard_id""",
    "q_pii_scrub" -> piiScrubOracleSql,
    "q_fingerprint_dups" -> fingerprintDupsOracleSql,
    "q_pagerank" -> pagerankOracleSql,
    "q_lm_quality" -> lmQualityOracleSql,
    "q_tfidf" -> tfidfOracleSql,
    "q_sitemap" -> sitemapOracleSql,
    "q_url_striptrack" ->
      """SELECT doc_id,
           'https://h' || doc_id || '.example.com/p' ||
             CASE doc_id % 4
               WHEN 0 THEN '?utm_source=x&id=' || doc_id || '&utm_campaign=y'
               WHEN 1 THEN '?b=2&a=1&gclid=abc'
               WHEN 2 THEN '?fbclid=z' ELSE '' END AS url,
           'https://h' || doc_id || '.example.com/p' ||
             CASE doc_id % 4
               WHEN 0 THEN '?id=' || doc_id
               WHEN 1 THEN '?a=1&b=2' ELSE '' END AS dedup_key
         FROM documents""",
    "q_warc_records" ->
      // closed-form reconstruction — strlen is DuckDB's BYTE length,
      // matching the WARC octet contract; md5 over the same UTF-8 bytes
      """WITH base AS (SELECT doc_id, text FROM documents)
         SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
           CAST(NULL AS VARCHAR) AS target_uri,
           strlen('graft-warcinfo ' || doc_id) AS content_length,
           md5('graft-warcinfo ' || doc_id) AS payload_md5 FROM base
         UNION ALL
         SELECT doc_id, 1, 'response',
           'https://h' || doc_id || '.example.com/page',
           strlen(text), md5(text) FROM base""",
    "q_warc_gz" ->
      // identical record set to q_warc_records: gzip is transport only
      """WITH base AS (SELECT doc_id, text FROM documents)
         SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
           CAST(NULL AS VARCHAR) AS target_uri,
           strlen('graft-warcinfo ' || doc_id) AS content_length,
           md5('graft-warcinfo ' || doc_id) AS payload_md5 FROM base
         UNION ALL
         SELECT doc_id, 1, 'response',
           'https://h' || doc_id || '.example.com/page',
           strlen(text), md5(text) FROM base""",
    "q_nfc_norm" ->
      // chr(769)/chr(776) are the combining acute/diaeresis the query
      // plants; nfc_normalize is DuckDB's own NFC implementation — two
      // independent Unicode libraries must agree on the composed form
      """SELECT doc_id,
           nfc_normalize('cafe' || chr(769) || ' no' || chr(776) ||
             'el #' || doc_id) AS norm,
           1 AS changed,
           length(nfc_normalize('cafe' || chr(769) || ' no' || chr(776) ||
             'el #' || doc_id)) AS n_chars_norm
         FROM documents""",
    "q_robots_sitemaps" ->
      // closed-form reconstruction: one primary URL per doc (trailing
      // comment stripped), plus the variant-key line where doc_id%7=0;
      // the full-line-commented plant never appears
      """WITH ids AS (SELECT doc_id FROM documents),
           prim AS (SELECT doc_id, 'https://h' || doc_id ||
             '.example.com/sitemap' || (doc_id % 4) || '.xml' AS sitemap_url
             FROM ids),
           alt AS (SELECT doc_id, 'https://alt' || doc_id ||
             '.example.org/s.xml' AS sitemap_url FROM ids WHERE doc_id % 7 = 0)
         SELECT * FROM prim UNION ALL SELECT * FROM alt""",
    "q_anchor_text" -> anchorTextOracleSql,
    "q_gif_frames" -> gifFramesOracleSql,
    "q_decontaminate" -> decontaminateOracleSql,
    "q_repetition" -> repetitionOracleSql,
    "q_line_dedup" -> lineDedupOracleSql,
    "q_url_blocklist" ->
      """WITH u AS (SELECT doc_id,
           'sub' || (doc_id % 3) || '.host' || (doc_id % 23) ||
           '.example' || (doc_id % 7) || '.com' AS host
         FROM documents)
         SELECT doc_id, host, CASE
           WHEN doc_id % 7 = 3 THEN 'example3.com'
           WHEN doc_id % 23 = 7 AND doc_id % 7 = 2 THEN 'host7.example2.com'
           WHEN doc_id % 3 = 1 AND doc_id % 23 = 1 AND doc_id % 7 = 1
             THEN 'sub1.host1.example1.com'
           END AS matched_domain
         FROM u WHERE matched_domain IS NOT NULL""",
    "q_adaptive_delay" ->
      """WITH r AS (
           SELECT user_id AS host, value AS latency_ms,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events),
         e AS (
           SELECT host, max(n) AS n_obs,
             round(sum(latency_ms * pow(0.5, n - rn)) /
                   sum(pow(0.5, n - rn)), 3) AS ewma_ms
           FROM r GROUP BY host)
         SELECT host, n_obs, ewma_ms,
           CAST(least(30000, greatest(100, ceil(ewma_ms * 2.0))) AS BIGINT)
             AS min_delay_ms
         FROM e""",
    "q_recrawl_lambda" ->
      """WITH f AS (
           SELECT user_id AS url_id, event_id AS seq,
             CAST(floor(event_id / ((user_id % 9 + 1) * 50)) AS BIGINT) AS fp
           FROM events),
         l AS (
           SELECT url_id, seq, fp,
             lag(fp) OVER (PARTITION BY url_id ORDER BY seq) AS prev_fp FROM f),
         a AS (
           SELECT url_id, count(*) AS n_fetches,
             CAST(sum(CASE WHEN prev_fp IS NOT NULL AND prev_fp <> fp
               THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             CAST(max(seq) - min(seq) AS DOUBLE) AS span
           FROM l GROUP BY url_id)
         SELECT url_id, n_fetches, n_changes,
           round(-ln((CAST(n_fetches - 1 - n_changes AS DOUBLE) + 0.5) /
                     (CAST(n_fetches - 1 AS DOUBLE) + 0.5))
                 / (span / CAST(n_fetches - 1 AS DOUBLE)) * 1000, 4) + 0.0
             AS lambda_k
         FROM a WHERE n_fetches >= 2""",
    "q_crawl_traps" ->
      """WITH urls AS (
           SELECT 'h' || (user_id % 20) AS host,
             CASE WHEN event_type = 'view'
               THEN '/archive/' || CAST(event_id AS VARCHAR)
               ELSE '/p/' || CAST(event_id % 97 AS VARCHAR) END AS path,
             CASE WHEN event_type = 'view'
               THEN CAST(event_id % 5 AS VARCHAR)
               ELSE CAST(event_id % 97 AS VARCHAR) END AS content
           FROM events),
         t AS (
           SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS template,
             count(DISTINCT path) AS n_urls,
             count(DISTINCT content) AS n_content
           FROM urls GROUP BY 1, 2)
         SELECT host, template, n_urls, n_content,
           CAST(n_urls >= 100 AND CAST(n_content AS DOUBLE) <= n_urls * 0.1
             AS INT) AS is_trap
         FROM t""",
    "q_len_quantiles" ->
      // exact side only (quantile_cont ≡ Spark percentile interpolation);
      // the Spark rows are gated on the approx sketch being within 10%, so
      // a sketch regression surfaces as missing rows against this census
      """SELECT lang,
           round(quantile_cont(n_chars, 0.5), 2) AS p50,
           round(quantile_cont(n_chars, 0.9), 2) AS p90,
           round(quantile_cont(n_chars, 0.99), 2) AS p99
         FROM documents GROUP BY lang""",
    "q_host_cardinality" ->
      // exact side only: the Spark query emits (user_id, n_exact) gated on
      // its HLL++ estimate being within 10%, so a sketch regression surfaces
      // as missing rows against this full exact census
      """SELECT user_id, count(DISTINCT event_id) AS n_exact
         FROM events GROUP BY user_id""",
    "q_phash_knn" -> phashKnnOracleSql,
    "q_cuckoo_filter_new" ->
      """SELECT DISTINCT l_orderkey AS url_hash FROM lineitem
         WHERE l_orderkey NOT IN
           (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')""",
    "q_simhash_neardups" -> simhashOracleSql,
    "q_fingerprint" -> fingerprintOracleSql,
    "q_image_meta" -> imageMetaOracleSql,
    "q_image_buckets" -> imageBucketsOracleSql,
    "q_image_gate" -> imageGateOracleSql,
    "q_image_features" -> imageFeaturesOracleSql,
    "q_video_frames" -> videoFramesOracleSql,
    "q_audio_features" ->
      """SELECT 'aud' || format('{:06d}', i) AS media_id,
         16000 AS sample_rate,
         CAST(16000 * (200 + (i % 8) * 100) / 1000 AS BIGINT) AS n_samples,
         round((0.20 + 0.05 * (i % 10)) / sqrt(2.0), 2) AS rms
         FROM range(400) t(i)""",
    "q_ann_pq" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv)
         SELECT vec_id AS id, round(list_sum(list_transform(range(1, 65), i ->
           (CAST(embedding[i] AS DOUBLE) - qv[i]) *
           (CAST(embedding[i] AS DOUBLE) - qv[i]))), 6) AS l2sq
         FROM embeddings, q
         ORDER BY l2sq ASC, id ASC LIMIT 10""",
    "q_ann_ivfpq" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv)
         SELECT vec_id AS id, round(list_sum(list_transform(range(1, 65), i ->
           (CAST(embedding[i] AS DOUBLE) - qv[i]) *
           (CAST(embedding[i] AS DOUBLE) - qv[i]))), 6) AS l2sq
         FROM embeddings, q
         ORDER BY l2sq ASC, id ASC LIMIT 10""",
    "q_ann_ivf" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv)
         SELECT vec_id AS id, round(
           list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv) /
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) *
                list_sum(list_transform(qv, x -> x * x))), 6) AS cosine
         FROM embeddings, q
         ORDER BY cosine DESC, id ASC LIMIT 10""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_join3" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_broadcast_join" ->
      """SELECT r_name, count(*) AS n_nations FROM nation
         JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) WHERE rnk <= 2""",
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
         lag(o_orderkey, 1) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_orderkey
         FROM orders""",
    "q_running_sum" ->
      """SELECT l_orderkey, l_linenumber,
         round(sum(l_quantity) OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
         FROM lineitem""",
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_union_agg" ->
      """SELECT nationkey, count(*) AS n FROM (
           SELECT s_nationkey AS nationkey FROM supplier
           UNION ALL SELECT c_nationkey AS nationkey FROM customer)
         GROUP BY nationkey""",
    "q_case_having" ->
      """SELECT p_brand, count(*) AS n_parts,
         round(sum(CASE WHEN p_size > 25 THEN p_retailprice ELSE 0.0 END), 2) AS big_value
         FROM part GROUP BY p_brand HAVING count(*) > 5""",
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""",
    "q_filter_pushdown" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
         GROUP BY l_returnflag""",
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
         coalesce(l_linestatus, 'ALL') AS lstatus,
         count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_scalar_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_above_avg FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
         GROUP BY o_orderpriority""",
    "q_in_subquery" ->
      """SELECT l_returnflag, count(*) AS n,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
         GROUP BY l_returnflag""",
    "q_cross_join_small" ->
      """SELECT r_name, count(*) AS n_pairs FROM region CROSS JOIN nation
         GROUP BY r_name""",
    "q_events_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_sessionize" ->
      """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
           SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL OR floor(epoch(ts)) - floor(epoch(lag(ts, 1) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id))) > 1800
                 THEN 1 ELSE 0 END AS new_sess
             FROM events))
         GROUP BY user_id""",
    "q_head_discovery" ->
      """SELECT user_id, max(event_id) AS head_seq, count(*) AS n
         FROM events GROUP BY user_id""",
    "q_seq_walk" ->
      """SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS walk_pos
         FROM events""",
    "q_parent_lag" ->
      """SELECT user_id, event_id,
         lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS parent_seq
         FROM events""",
    "q_window_evict" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn <= 5""",
    "q_reorg_diff" ->
      """SELECT status, count(*) AS n FROM (
           SELECT CASE
             WHEN l.l_value IS NULL THEN 'ACCEPTED'
             WHEN r.r_value IS NULL THEN 'DROPPED'
             WHEN l.l_value <> r.r_value THEN 'REPLACED'
             ELSE 'UNCHANGED' END AS status
           FROM (SELECT event_id, value AS l_value FROM events WHERE event_id % 3 <> 0) l
           FULL OUTER JOIN (SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN round(value * 2, 2) ELSE value END AS r_value
             FROM events) r USING (event_id))
         GROUP BY status""",
    "q_filter_member" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE event_type IN ('click', 'view') GROUP BY event_type""",
    "q_politeness_topk" ->
      """SELECT user_id, event_id, rnk FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id ASC) AS rnk
           FROM events) WHERE rnk <= user_id % 3 + 1""",
    "q_hex_roundtrip" ->
      """SELECT DISTINCT l_orderkey, l_orderkey AS decoded,
         '0x' || lower(format('{:x}', l_orderkey)) AS hex FROM lineitem""",
    "q_hex_value" ->
      "SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS decoded FROM orders",
    "q_url_canon" ->
      """SELECT doc_id, 'http://example' || (doc_id % 7) || '.com/a/p/' || doc_id
         AS canon FROM documents""",
    "q_url_host_path" ->
      """SELECT doc_id,
         'host' || (doc_id % 5) || '.example.org' AS host,
         '/x/' || doc_id || '/y/' AS path FROM documents""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
         count(*) AS dup_count FROM documents GROUP BY md5(text)""",
    "q_token_jaccard" ->
      """WITH base AS (
           SELECT doc_id AS id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
           FROM documents)
         SELECT a.id AS id1, b.id AS id2,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
         FROM base a JOIN base b
           ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.id < b.id
         WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           len(list_distinct(list_concat(a.toks, b.toks))) >= 0.55""",
    "q_compress_ratio" ->
      // closed form: flag class is i % 2 by construction (see the query's
      // margin note); the deflate machinery is what's under test
      """SELECT i::BIGINT AS doc_id,
           CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS is_repetitive
         FROM range(60) t(i)""",
    "q_crawl_emits" ->
      // GOLDEN oracle (the block-18721004 move applied to the crawl):
      // the 3-round crawl of the seeded fixture is fully deterministic
      // and independently reproduced by RefWalker (CrawlParitySpec
      // pins engine ≡ oracle walker byte-exact), so the emit log is a
      // pinned constant — any change to scheduling, politeness,
      // ordering, or emission semantics turns this row red.
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(-2899941742786033701 AS BIGINT), CAST(9 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(8600218678142164858 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(1609814677844032198 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(-816804048352529702 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(7769836650970808916 AS BIGINT), CAST(6 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host02.test', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(-1754397614164880083 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host02.test', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(-1354188716901785913 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host03.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(-3163094081374291801 AS BIGINT), CAST(9 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host04.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(8410095052402764201 AS BIGINT), CAST(1 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(-5500309839765495246 AS BIGINT), CAST(4 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host09.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(8818445230701557997 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(-9017335960357771033 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(1 AS BIGINT), 'ACCEPTED', 'host11.test', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(376877283707896541 AS BIGINT), CAST(1 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(18 AS BIGINT), CAST(3 AS BIGINT), CAST(966378050272710729 AS BIGINT), CAST(9 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(6 AS BIGINT), CAST(4 AS BIGINT), CAST(1003877506927540288 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(7574412135291989495 AS BIGINT), CAST(5 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(6089991727336690635 AS BIGINT), CAST(5 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(7 AS BIGINT), CAST(6 AS BIGINT), CAST(8836313785659005783 AS BIGINT), CAST(3 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host02.test', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(7293527280273689632 AS BIGINT), CAST(2 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host03.test', CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(7270428163726006933 AS BIGINT), CAST(3 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host03.test', CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(-1792534717987840468 AS BIGINT), CAST(2 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host04.test', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(6721782586449326280 AS BIGINT), CAST(0 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(-6704170283805382002 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(1224293418687348870 AS BIGINT), CAST(0 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(1678410331394783557 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(4690155066594039834 AS BIGINT), CAST(4 AS INTEGER)),
           (CAST(2 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(-3899538845911735899 AS BIGINT), CAST(1 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(8 AS BIGINT), CAST(5 AS BIGINT), CAST(1850697500071325058 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host00.test', CAST(12 AS BIGINT), CAST(6 AS BIGINT), CAST(-3547161577726177352 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(12 AS BIGINT), CAST(7 AS BIGINT), CAST(1195823600785995227 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(13 AS BIGINT), CAST(8 AS BIGINT), CAST(2231913543519661107 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host01.test', CAST(9 AS BIGINT), CAST(9 AS BIGINT), CAST(-6588376529028163856 AS BIGINT), CAST(4 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host03.test', CAST(5 AS BIGINT), CAST(4 AS BIGINT), CAST(1840617809722104828 AS BIGINT), CAST(8 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host03.test', CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(-4004215605238188380 AS BIGINT), CAST(0 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host04.test', CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(5965723183212850179 AS BIGINT), CAST(9 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host04.test', CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(6820534703035821672 AS BIGINT), CAST(2 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(5 AS BIGINT), CAST(4 AS BIGINT), CAST(-1349171921139555343 AS BIGINT), CAST(7 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(-9162267565954444995 AS BIGINT), CAST(5 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host06.test', CAST(6 AS BIGINT), CAST(6 AS BIGINT), CAST(-989880175555110436 AS BIGINT), CAST(4 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host09.test', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(4199555378288747616 AS BIGINT), CAST(6 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(5 AS BIGINT), CAST(5 AS BIGINT), CAST(-4432130876277056681 AS BIGINT), CAST(9 AS INTEGER)),
           (CAST(3 AS BIGINT), 'ACCEPTED', 'host10.test', CAST(6 AS BIGINT), CAST(6 AS BIGINT), CAST(-1971763496782732917 AS BIGINT), CAST(3 AS INTEGER)))
         t(round, status, host, seq, ord, url_hash, priority)""",
    "q_cross_modal" ->
      """SELECT 'caption_drift' AS kind, 'drf' || format('{:010d}', i) AS id1,
           'img' || format('{:010d}', i) AS id2 FROM range(0, 10) t(i)
         UNION ALL
         SELECT 'caption_drift', 'img' || format('{:010d}', i + 100),
           'spm' || format('{:010d}', i) FROM range(20, 30) t(i)
         UNION ALL
         SELECT 'caption_spam', 'img' || format('{:010d}', i),
           'spm' || format('{:010d}', i) FROM range(20, 30) t(i)""",
    "q_image_phash_dups" ->
      """SELECT 'img' || format('{:04d}', i) AS id1,
           're' || format('{:04d}', i) AS id2
         FROM range(0, 25) t(i)""",
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $minhashClusterCte
         SELECT node AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY node""",
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $minhashClusterCte,
         dropids AS (
           SELECT node FROM cc GROUP BY node HAVING node <> min(lab))
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT node FROM dropids)""",
    "q_minhash_neardups" ->
      """WITH toks AS (
           SELECT doc_id AS id, text, regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents),
         sh AS (
           SELECT id, CASE WHEN len(tk) < 3 THEN [text]
             ELSE list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
           FROM toks)
         SELECT a.id AS id1, b.id AS id2,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.id < b.id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           len(list_distinct(list_concat(a.s, b.s))) >= 0.6""",
    "q_embed_neardups" ->
      """WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         aug AS (
           SELECT vec_id, v FROM e
           UNION ALL SELECT vec_id + 1000000 AS vec_id, v FROM e WHERE vec_id < 20
           UNION ALL SELECT vec_id + 2000000 AS vec_id,
             list_concat([-v[1]], v[2:]) AS v FROM e
             WHERE vec_id >= 20 AND vec_id < 40)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_dot_product(a.v, b.v) /
             sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) AS cosine
         FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) /
           sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.9""",
    "q_embed_refcos" ->
      """SELECT vec_id, round(
           list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) /
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) * 64.0),
         4) AS ref_cos FROM embeddings""",
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv)
         SELECT vec_id, round(
           list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv) /
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) *
                list_sum(list_transform(qv, x -> x * x))), 6) AS cosine
         FROM embeddings, q
         ORDER BY cosine DESC, vec_id ASC LIMIT 10""",
    "q_ann_ivf_full" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv)
         SELECT vec_id AS id, round(
           list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv) /
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) *
                list_sum(list_transform(qv, x -> x * x))), 6) AS cosine
         FROM embeddings, q
         ORDER BY cosine DESC, id ASC LIMIT 10""",
    "q_semdedup" ->
      "SELECT vec_id FROM embeddings",
    "q_embed_neardups_exact" ->
      """WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_dot_product(a.v, b.v) /
             sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) /
           sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.35""",
    "q_text_quality" ->
      """SELECT doc_id, round((
           least(len(text) / 500.0, 1.0) +
           len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) / greatest(len(text), 1.0) +
           greatest(1.0 - (len(regexp_replace(text, '[^.,;:!?]', '', 'g')) /
             greatest(len(text), 1.0)) * 4.0, 0.0) +
           least(len(list_filter(
             CASE WHEN len(trim(text)) = 0 THEN []
               ELSE regexp_split_to_array(trim(text), '\s+') END,
             t -> t IN ('the','a','of','and','to','in','is'))) / 5.0, 1.0)
         ) / 4.0, 6) AS quality FROM documents""",
    "q_langid" ->
      """WITH scored AS (
           SELECT doc_id,
             len(list_filter(CASE WHEN len(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(lower(text)), '\s+') END,
               t -> t IN ('the','and','of','to','is','in','that','it','was','for'))) AS s_en,
             len(list_filter(CASE WHEN len(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(lower(text)), '\s+') END,
               t -> t IN ('der','die','das','und','ist','nicht','ein','mit','sich','auf'))) AS s_de,
             len(list_filter(CASE WHEN len(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(lower(text)), '\s+') END,
               t -> t IN ('le','la','les','et','est','une','dans','que','pour','pas'))) AS s_fr,
             len(list_filter(CASE WHEN len(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(lower(text)), '\s+') END,
               t -> t IN ('el','los','las','es','una','en','que','por','con','para'))) AS s_es,
             CASE WHEN len(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 4
               >= len(text) THEN 1000 ELSE 0 END AS s_zh
           FROM documents)
         SELECT doc_id, CASE
           WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
           WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
           WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
           WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
           WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
           ELSE 'zh' END AS lang_pred
         FROM scored""",
    "q_html_extract" ->
      """SELECT doc_id,
           'Doc ' || doc_id || ' & friends' AS title,
           trim(text) || ' A <tag> next prev' AS text,
           2 AS n_links
         FROM documents""",
    "q_text_stats" ->
"""SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
           AS n_bpeish
         FROM documents"""
  )
}
