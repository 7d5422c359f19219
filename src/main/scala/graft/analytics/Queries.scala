package graft.analytics

import graft.core.{Par, QueryDef, Reliability, Tables}
import graft.functions.{Hashing, Text, Vectors}
import graft.multimodal.Multimodal
import graft.operators.{AsOf, BloomPrune, DateDim, Decontaminate, Dedup, GraphRank, IncrementalAgg, Packing, Quantize, RangeJoin, Retrieval, Similarity, Sketch, Skew, Tokenize, Upsert}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's declared, oracle-checked query inventory (SURVEY.md §2.8
  * Q01–Q22 plus the dedup / text / similarity / multimodal / streaming
  * surfaces). Each entry is a lazy DataFrame program together with an
  * ANSI-SQL twin the driver runs in DuckDB over the same parquet tables;
  * the results must hash-match.
  *
  * Cross-engine determinism rules used throughout:
  *  - every aggregate / computed column is aliased IDENTICALLY in both
  *    programs (the driver sorts columns by name before hashing);
  *  - double sums go through DECIMAL(18,4/6) so the result is exact and
  *    independent of partition/accumulation order ([[dsum]]);
  *  - integer-ish outputs are cast to BIGINT on both sides (Spark window
  *    ranks are INT, DuckDB's are BIGINT; DuckDB `year()` is BIGINT,
  *    Spark's is INT, …);
  *  - hash-derived logic uses md5 ([[Hashing]]) — identical bit-for-bit
  *    in both engines;
  *  - timestamp outputs are truncated/cast identically (events.ts is
  *    ns-typed parquet: Spark reads µs, the oracle casts to µs).
  */
object Queries {

  // ---- cross-engine helpers -------------------------------------------------

  /** Order-insensitive exact double sum: cast to decimal, sum (exact),
    * cast back. DuckDB twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE). */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Spark-side tokens (whitespace split, empties removed); DuckDB twin
    * is [[toksSql]]. */
  private def toksSql(textExpr: String): String =
    s"list_filter(string_split($textExpr, ' '), x -> x != '')"

  private val P = Dedup.P

  // ---- the registry ---------------------------------------------------------

  def all: Vector[QueryDef] = Vector(
    // ======================= core relational surface =======================
    QueryDef(
      "q01_scan_project",
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_no"),
          floor(col("l_quantity")).cast("long").as("qty_floor"),
          concat(col("l_returnflag"), col("l_linestatus")).as("flag")
        ),
      Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
             |CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
             |concat(l_returnflag, l_linestatus) AS flag FROM lineitem""".stripMargin)
    ),
    QueryDef(
      "q02_filter",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(
            col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
              col("l_returnflag").isin("A", "R") && col("l_discount") > 0.05
          )
          .select(
            col("l_orderkey"), col("l_linenumber"),
            // dates travel as strings: parquet date32 vs DuckDB DATE land
            // in different pandas dtypes on the compare side
            to_date(col("l_shipdate")).cast("string").as("ship_date"),
            col("l_returnflag"), col("l_discount")
          ),
      Some("""SELECT l_orderkey, l_linenumber, CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
             |l_returnflag, l_discount FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             |AND l_returnflag IN ('A','R') AND l_discount > 0.05""".stripMargin)
    ),
    QueryDef(
      "q03_groupby_agg",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(
            to_date(date_trunc("month", col("l_shipdate"))).cast("string").as("ship_month"),
            col("l_returnflag").as("returnflag")
          )
          .agg(
            count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("sum_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"),
            min(col("l_discount")).as("min_disc"),
            max(col("l_tax")).as("max_tax")
          ),
      Some(s"""SELECT CAST(CAST(date_trunc('month', l_shipdate) AS DATE) AS VARCHAR) AS ship_month,
              |l_returnflag AS returnflag, count(*) AS n_rows,
              |${dsumSql("l_quantity")} AS sum_qty,
              |round(avg(l_extendedprice), 4) AS avg_price,
              |min(l_discount) AS min_disc, max(l_tax) AS max_tax
              |FROM lineitem GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "q04_count_distinct",
      // r22 (guide §2.1/§2.3, probe-driven): dedup (flag, pk, sk)
      // FIRST — all three distinct counts are invariant under it (the
      // keys are non-null, so count(DISTINCT pk, sk) = count(*) of the
      // deduped triples), and the RewriteDistinctAggregates Expand(×3)
      // then runs over distinct triples instead of every lineitem row.
      // The pre-dedup is one map-side-combinable aggregation; the
      // expand-side hash aggregate shrinks by the (flag, pk, sk)
      // duplication factor (interleaved in-JVM A/B: 1.78 → 1.40 s
      // median at sf0.1).
      (s, d) => {
        val dd = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("returnflag"), col("l_partkey"), col("l_suppkey"))
          .distinct()
        dd.groupBy(col("returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_part_supp"))
      },
      Some("""SELECT l_returnflag AS returnflag,
             |count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
             |count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q05_broadcast_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal")),
      Some(s"""SELECT r_name AS region, n_name AS nation, count(*) AS n_cust,
              |${dsumSql("c_acctbal")} AS total_bal
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "q06_large_join",
      (s, d) =>
        Tables.orders(s, d)
          // Par.widen on the probe side (r21, measured 1.2 -> 0.9 s):
          // the broadcast-join probe + partial agg ran in the single
          // scan task; no-op on a wide production scan
          .join(graft.core.Par.widen(Tables.lineitem(s, d)), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(
            count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")
          ),
      Some(s"""SELECT o_orderpriority AS priority, count(*) AS n_items,
              |${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q07_full_outer_coalesce",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
          .select(col("c_custkey"), col("c_acctbal"))
        val o = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(dsum(col("o_totalprice")).as("spend"), count(lit(1)).as("n_orders"))
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            coalesce(col("c_acctbal"), lit(0.0)).as("acctbal"),
            coalesce(col("spend"), lit(0.0)).as("spend"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders")
          )
      },
      Some(s"""SELECT coalesce(c_custkey, o_custkey) AS custkey,
              |coalesce(c_acctbal, 0.0) AS acctbal, coalesce(spend, 0.0) AS spend,
              |coalesce(n_orders, 0) AS n_orders
              |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) c
              |FULL OUTER JOIN (SELECT o_custkey, ${dsumSql("o_totalprice")} AS spend,
              |count(*) AS n_orders FROM orders GROUP BY 1) o ON c_custkey = o_custkey""".stripMargin)
    ),
    QueryDef(
      "q08_semi_anti",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit("has_orders").as("status"))
        val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit("no_orders").as("status"))
        semi.unionByName(anti)
      },
      Some("""SELECT c_custkey, 'has_orders' AS status FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, 'no_orders' AS status FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)
    ),
    QueryDef(
      "q09_keep_latest",
      (s, d) =>
        Dedup.keepLatest(Tables.events(s, d), Seq("user_id"), "ts", "event_id")
          .select(col("user_id"), col("event_id"), col("event_type"), col("value")),
      Some("""SELECT user_id, event_id, event_type, value FROM (
             |SELECT user_id, event_id, event_type, value,
             |row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |FROM events) WHERE rn = 1""".stripMargin)
    ),
    QueryDef(
      "q10_rank",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        Tables.customer(s, d)
          .select(
            col("c_mktsegment").as("segment"), col("c_custkey"), col("c_acctbal"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            ntile(4).over(w).cast("long").as("quartile")
          )
          .filter(col("rnk") <= 100)
      },
      Some("""SELECT segment, c_custkey, c_acctbal, rnk, drnk, quartile FROM (
             |SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
             |rank() OVER w AS rnk, dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
             |FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
             |) WHERE rnk <= 100""".stripMargin)
    ),
    QueryDef(
      "q11_lag_lead_moving",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(-2, 0)).cast("double").as("moving_sum")
        )
      },
      Some("""SELECT o_custkey, o_orderkey,
             |lag(o_totalprice, 1) OVER w AS prev_price,
             |lead(o_totalprice, 1) OVER w AS next_price,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
             |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
             |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)
    ),
    QueryDef(
      "q12_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .select(
            col("o_orderpriority").as("priority"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn")
          )
          .filter(col("rn") <= 3)
      },
      Some("""SELECT priority, o_orderkey, o_totalprice, rn FROM (
             |SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
             |row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |FROM orders) WHERE rn <= 3""".stripMargin)
    ),
    QueryDef(
      "q13_setops",
      (s, d) => {
        val cn = Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
        val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct()
        cn.intersect(sn).withColumn("membership", lit("both"))
          .unionByName(cn.except(sn).withColumn("membership", lit("cust_only")))
          .unionByName(sn.except(cn).withColumn("membership", lit("supp_only")))
      },
      Some("""SELECT nationkey, 'both' AS membership FROM
             |(SELECT DISTINCT c_nationkey AS nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT nationkey, 'cust_only' AS membership FROM
             |(SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT nationkey, 'supp_only' AS membership FROM
             |(SELECT DISTINCT s_nationkey AS nationkey FROM supplier EXCEPT SELECT DISTINCT c_nationkey FROM customer)""".stripMargin)
    ),
    QueryDef(
      "q14_rollup",
      (s, d) =>
        // Par.widen (r21, measured 1.1 -> 0.9 s): rollup's Expand +
        // decimal partial sums ran in the single scan task; no-op on a
        // wide production scan
        graft.core.Par.widen(Tables.lineitem(s, d))
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n_rows"), col("sum_qty")
          ),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              |coalesce(l_linestatus, 'ALL') AS linestatus,
              |count(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)
    ),
    QueryDef(
      "q15_string_fns",
      (s, d) =>
        Tables.part(s, d).select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          element_at(split(col("p_name"), " "), 1).as("name_head"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
          length(col("p_name")).cast("long").as("name_len")
        ),
      Some("""SELECT p_partkey, upper(p_name) AS name_upper,
             |string_split(p_name, ' ')[1] AS name_head,
             |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
             |concat(p_brand, '#', p_type) AS brand_type,
             |regexp_extract(p_brand, '[0-9]+') AS brand_num,
             |length(p_name) AS name_len FROM part""".stripMargin)
    ),
    QueryDef(
      "q16_date_fns",
      (s, d) =>
        Tables.orders(s, d).select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
          datediff(lit("1998-01-01").cast("date"), to_date(col("o_orderdate"))).cast("long").as("days_to_cut"),
          last_day(col("o_orderdate")).cast("string").as("month_end"),
          date_add(to_date(col("o_orderdate")), 30).cast("string").as("plus30")
        ),
      Some("""SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             |day(o_orderdate) AS dom, quarter(o_orderdate) AS qtr,
             |dayofweek(o_orderdate) AS dow,
             |date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_cut,
             |CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
             |CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30 FROM orders""".stripMargin)
    ),
    QueryDef(
      "q17_conditional",
      (s, d) =>
        Tables.customer(s, d).select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high").as("bal_bucket"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg_clean"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap")
        ),
      Some("""SELECT c_custkey,
             |CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_bucket,
             |coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_clean,
             |greatest(c_acctbal, 0.0) AS bal_floor, least(c_acctbal, 1000.0) AS bal_cap
             |FROM customer""".stripMargin)
    ),
    QueryDef(
      "q18_max_per_group_join",
      (s, d) => {
        val o = Tables.orders(s, d)
        val mx = o.groupBy(col("o_custkey").as("ck")).agg(max(col("o_totalprice")).as("mp"))
        o.join(mx, col("o_custkey") === col("ck") && col("o_totalprice") === col("mp"))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice").as("top_price"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice AS top_price FROM orders
             |JOIN (SELECT o_custkey AS ck, max(o_totalprice) AS mp FROM orders GROUP BY 1) m
             |ON o_custkey = ck AND o_totalprice = mp""".stripMargin)
    ),
    QueryDef(
      "q19_exact_dedup",
      (s, d) =>
        Dedup.exact(
          Tables.documents(s, d).withColumn("content", substring(col("text"), 1, 12)),
          "doc_id", "content"
        ).filter(col("n_copies") > 1),
      Some("""SELECT md5(substr(text, 1, 12)) AS content_hash, min(doc_id) AS keep_id,
             |count(*) AS n_copies FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin)
    ),
    QueryDef(
      "q20_term_freq",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(50),
      Some(s"""SELECT token, count(*) AS n FROM
              |(SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents)
              |GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 50""".stripMargin)
    ),
    QueryDef(
      "q21_jaccard_pairs",
      (s, d) => {
        val t = Tables.documents(s, d).select(
          col("doc_id"),
          array_distinct(Text.tokens(lower(col("text")))).as("tk")
        )
        val a = t.select(col("doc_id").as("id_a"), col("tk").as("tk_a"))
        val b = t.select(col("doc_id").as("id_b"), col("tk").as("tk_b"))
        a.join(b, col("id_b") === col("id_a") + 1)
          .select(
            col("id_a"), col("id_b"),
            round(
              size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
                size(array_union(col("tk_a"), col("tk_b"))),
              6
            ).as("jaccard")
          )
      },
      Some(s"""WITH t AS (SELECT doc_id, list_distinct(${toksSql("lower(text)")}) AS tk FROM documents)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |round(CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
              |(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x)))), 6) AS jaccard
              |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1""".stripMargin)
    ),
    QueryDef(
      "q23_cube",
      (s, d) =>
        // Par.widen (r21, measured 1.4 -> 0.9 s): cube's Expand(x4) +
        // decimal partial sums ran in the single scan task
        graft.core.Par.widen(Tables.lineitem(s, d))
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n_rows"), col("sum_qty")
          ),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              |coalesce(l_linestatus, 'ALL') AS linestatus,
              |count(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)
    ),
    QueryDef(
      "q25_json_array_fns",
      (s, d) => {
        val j = to_json(struct(col("p_brand").as("b"), col("p_size").as("sz")))
        Tables.part(s, d).select(
          col("p_partkey"),
          j.as("j"),
          get_json_object(j, "$.b").as("brand_back"),
          array_contains(split(col("p_type"), " "), "BRUSHED").as("is_brushed"),
          // scalar (not array<string>) so the oracle harness can sort/hash it
          array_join(sort_array(split(col("p_type"), " ")), " ").as("type_words_sorted"),
          size(split(col("p_name"), " ")).cast("long").as("n_name_words")
        )
      },
      Some("""SELECT p_partkey,
             |to_json(struct_pack(b := p_brand, sz := p_size)) AS j,
             |json_extract_string(to_json(struct_pack(b := p_brand, sz := p_size)), '$.b') AS brand_back,
             |list_contains(string_split(p_type, ' '), 'BRUSHED') AS is_brushed,
             |array_to_string(list_sort(string_split(p_type, ' ')), ' ') AS type_words_sorted,
             |len(string_split(p_name, ' ')) AS n_name_words
             |FROM part""".stripMargin)
    ),
    QueryDef(
      "q24_pivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(dsum(col("l_quantity")))
          .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o")),
      Some(s"""SELECT l_returnflag AS returnflag,
              |${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
              |${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
              |FROM lineitem GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q28_range_window",
      // RANGE-frame window: per-user trailing-hour sum/count over event
      // time — value-based frames (q11 covered ROWS frames). Ordering
      // key is integer epoch seconds on both engines; the sum runs
      // through DECIMAL so frame accumulation order can't flicker it.
      (s, d) => {
        val e = Tables.events(s, d).withColumn("es", col("ts").cast("long"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("es")).rangeBetween(-3599, 0)
        e.select(
          col("event_id"),
          col("user_id"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("trailing_sum"),
          count(lit(1)).over(w).cast("long").as("trailing_n")
        )
      },
      Some("""WITH e AS (SELECT event_id, user_id, value,
             |  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es FROM events)
             |SELECT event_id, user_id,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trailing_sum,
             |count(*) OVER w AS trailing_n
             |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es
             |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin)
    ),
    QueryDef(
      "q26_exists_subqueries",
      // correlated EXISTS / NOT EXISTS — Catalyst rewrites them to
      // left-semi / left-anti joins (RewritePredicateSubquery); no
      // driver-side logic, no floats, fully deterministic
      (s, d) => {
        Views.registerTables(s, d)
        s.sql(
          """SELECT c_custkey, c_name FROM customer c
            |WHERE EXISTS (SELECT 1 FROM orders o
            |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
            |AND NOT EXISTS (SELECT 1 FROM orders o2
            |  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |AND NOT EXISTS (SELECT 1 FROM orders o2
             |  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)
    ),
    QueryDef(
      "q27_percentiles",
      // exact linear-interpolation quantiles per group. Deterministic
      // cross-engine because l_quantity is integer-valued and the
      // fracs are dyadic (0.25/0.5/0.75): every interpolation
      // intermediate is exactly representable, so both engines produce
      // the identical double regardless of formula arrangement.
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
            min(col("l_quantity")).as("q_min"),
            max(col("l_quantity")).as("q_max")
          ),
      Some("""SELECT l_returnflag,
             |quantile_cont(l_quantity, 0.25) AS p25,
             |quantile_cont(l_quantity, 0.5) AS p50,
             |quantile_cont(l_quantity, 0.75) AS p75,
             |min(l_quantity) AS q_min, max(l_quantity) AS q_max
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q29_salted_join",
      // the skew remedy as an oracle-checked query: fact ⋈ dim through
      // [[Skew.saltedJoin]] (8 salts — each suppkey's rows spread over 8
      // shuffle sub-keys, dim replicated ×8) must produce EXACTLY the
      // rows of the plain equi-join the oracle runs. Proves salting is a
      // pure parallelism transform, not a semantics change.
      (s, d) => {
        val fact = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"), col("l_discount"))
        val dim = Tables.supplier(s, d)
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        // revenue in decimal end-to-end: price and (1-discount) are
        // 2-decimal values, exact as DECIMAL, so the product and sum
        // never touch double rounding (a computed double cast to
        // DECIMAL can round differently per engine on tie digits)
        Skew.saltedJoin(fact, dim, "suppkey", salts = 8)
          .groupBy(col("s_nationkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1.0) - col("l_discount")).cast("decimal(4,2)")).cast("double").as("revenue"))
      },
      Some("""SELECT s_nationkey, count(*) AS n_lines,
              |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              |  CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
              |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              |GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q36_aqe_skew_join",
      // q29's AQE-first twin: the same hot-key problem with ZERO
      // query-side remedy — no salt columns, the join written plainly
      // (a merge hint declines broadcast so the shuffle join actually
      // exists) and the hot-partition split left to AQE's runtime
      // skew-join (spark.sql.adaptive.skewJoin.enabled, on in
      // [[graft.core.GraftSession]]). The fact side is deliberately
      // skewed — 3/4 of lineitem collapses onto suppkey 1 — and the
      // oracle runs the plain join, so a green row proves the AQE path
      // is a pure parallelism transform exactly as q29 proved for
      // manual salting; PlanSpec asserts the runtime split itself. At
      // 100 TB this is the FIRST answer to skew (no code change, reacts
      // to the skew actually observed at runtime); salting is the
      // fallback for engines/joins AQE can't split.
      (s, d) => {
        val fact = Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 4 =!= 0, lit(1L))
            .otherwise(col("l_suppkey").cast("bigint")).as("suppkey"),
          col("l_extendedprice"), col("l_discount"))
        val dim = Tables.supplier(s, d)
          .select(col("s_suppkey").cast("bigint").as("suppkey"), col("s_nationkey"))
        fact.join(dim.hint("merge"), Seq("suppkey"))
          .groupBy(col("s_nationkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1.0) - col("l_discount")).cast("decimal(4,2)")).cast("double").as("revenue"))
      },
      Some("""WITH f AS (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1 ELSE l_suppkey END AS suppkey,
              |  l_extendedprice, l_discount FROM lineitem)
              |SELECT s_nationkey, count(*) AS n_lines,
              |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              |  CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
              |FROM f JOIN supplier ON suppkey = s_suppkey
              |GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q30_bloom_join",
      // bloom-pruned join: the fact side is pre-filtered by a Bloom
      // filter of the (filtered) dim keys ([[BloomPrune.semiFilter]]),
      // so only probable matches reach the shuffle; the exact equi-join
      // that follows absorbs false positives, making the result
      // bit-identical to the oracle's plain filtered join.
      (s, d) => {
        val smallParts = Tables.part(s, d).filter(col("p_size") <= 5)
        val pruned = BloomPrune.semiFilter(
          Tables.lineitem(s, d).select(col("l_partkey"), col("l_quantity")),
          smallParts, "l_partkey", "p_partkey", expectedKeys = 1000L)
        pruned
          .join(smallParts.select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      },
      Some(s"""SELECT p_brand, count(*) AS n_lines, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE p_size <= 5 GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "q31_unpivot",
      // wide-to-long reshaping (melt): the W surface's inverse of q24's
      // pivot, via the native `Dataset.unpivot` — the oracle uses
      // DuckDB's native UNPIVOT, an independent implementation of the
      // same relational operator. Sums travel through DECIMAL as usual.
      (s, d) =>
        // Par.widen (r21, measured 1.2 -> 1.0 s): three decimal partial
        // sums ran in the single scan task
        graft.core.Par.widen(Tables.lineitem(s, d))
          .groupBy(col("l_returnflag").as("returnflag"))
          .agg(
            dsum(col("l_quantity")).as("qty"),
            dsum(col("l_extendedprice")).as("price"),
            dsum(col("l_tax"), 6).as("tax"))
          .unpivot(
            Array(col("returnflag")),
            Array(col("qty"), col("price"), col("tax")),
            "metric", "value"),
      Some(s"""WITH a AS (SELECT l_returnflag AS returnflag,
              |${dsumSql("l_quantity")} AS qty,
              |${dsumSql("l_extendedprice")} AS price,
              |${dsumSql("l_tax", 6)} AS tax
              |FROM lineitem GROUP BY 1)
              |SELECT returnflag, metric, value FROM
              |(UNPIVOT a ON qty, price, tax INTO NAME metric VALUE value)""".stripMargin)
    ),
    QueryDef(
      "q32_cumulative_distinct",
      // cumulative distinct users per day via the FIRST-SEEN rewrite: a
      // naive cumulative COUNT(DISTINCT) re-scans every prefix (O(n·d));
      // instead each user contributes once at min(day) — two
      // map-side-combinable aggregations over the raw data, and the
      // running sum's global window runs over |days| rows (the time
      // dimension), never the event stream.
      (s, d) => {
        val firstSeen = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_day"))
        val daily = firstSeen.groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy(col("first_day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.select(
          col("first_day").cast("string").as("day"),
          col("new_users"),
          sum(col("new_users")).over(w).cast("long").as("cum_users"))
      },
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1),
             |d AS (SELECT first_day, count(*) AS new_users FROM f GROUP BY 1)
             |SELECT CAST(first_day AS VARCHAR) AS day, new_users,
             |CAST(SUM(new_users) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
             |FROM d""".stripMargin)
    ),
    QueryDef(
      "q33_distribution_windows",
      // the remaining window family: ntile / percent_rank / cume_dist.
      // The order key is (o_totalprice, o_orderkey) — TOTAL, so every
      // rank function is tie-free and deterministic across engines
      // (ntile over a non-total order is engine-defined), and
      // percent_rank/cume_dist reduce to exact small-integer ratios
      // ((rn-1)/(n-1), rn/n) whose single correctly-rounded division
      // is bit-identical in both engines. Partitioned by
      // o_orderpriority — at 100 TB a distribution window is a
      // per-partition total sort, so the partition key must bound
      // partition size (priority × month in production; priority alone
      // keeps the oracle small here).
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Tables.orders(s, d).select(
          col("o_orderkey"),
          col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_frac"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |percent_rank() OVER w AS pct_rank,
             |cume_dist() OVER w AS cum_frac
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin)
    ),
    QueryDef(
      "q34_kmv_distinct",
      // approximate distinct counting that CAN cross the oracle gate
      // ([[Packing.kmvDistinct]]): q22 gates the HLL built-in behind a
      // relative-error bound (its registers are engine-specific, so
      // only the CONTRACT is checkable); KMV's estimate depends
      // only on the k-th smallest md5 of the distinct ids, which both
      // engines compute identically — the full sketch → estimate path
      // hash-matches. Estimates distinct users per event_type, k = 16.
      (s, d) =>
        Packing.kmvDistinct(Tables.events(s, d), "user_id", "event_type", seed = 23, k = 16),
      Some(s"""WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
              |t AS (SELECT event_type, user_id,
              |${Hashing.md5LongSql("concat('cap:', CAST(user_id AS VARCHAR))", 23)} AS h FROM pairs),
              |capped AS (SELECT * FROM t
              |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) <= 16),
              |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
              |  FROM capped GROUP BY 1)
              |SELECT event_type, n_kept,
              |CASE WHEN n_kept < 16 THEN n_kept
              |ELSE CAST(floor(15 * 1152921504606846976.0 / h_k) AS BIGINT) END AS est_distinct
              |FROM sk""".stripMargin)
    ),

    QueryDef(
      "g01_graph_rank",
      // link-graph importance ([[GraphRank.pageRank]]): integer
      // PageRank, 3 fixed iterations, over the undirected
      // customer—supplier transaction graph (custkey*2 / suppkey*2+1
      // keeps the two id spaces disjoint by parity). The corpus-
      // curation analog: weight documents by their host's link
      // centrality. Every score is exact e9 units — distribution is
      // `score div degree`, damping `(85 * inflow) div 100` — so the
      // iterative fixed point is bit-identical in the oracle's CTE
      // chain.
      (s, d) => {
        val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(
            Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        GraphRank.pageRank(e, iters = 3).withColumnRenamed("node", "node_id")
      },
      Some {
        def iter(k: Int) =
          s"""i$k AS (SELECT u.dst AS node, CAST(sum(r.score_e9 // d.deg) AS BIGINT) AS inflow
             |  FROM und u JOIN r${k - 1} r ON r.node = u.src JOIN deg d ON d.src = u.src GROUP BY 1),
             |r$k AS (SELECT n.node, 150000000 + (85 * coalesce(i.inflow, 0)) // 100 AS score_e9
             |  FROM nodes n LEFT JOIN i$k i ON i.node = n.node)""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM und),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score_e9 FROM nodes),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node AS node_id, CAST(score_e9 AS BIGINT) AS score_e9 FROM r3""".stripMargin
      }
    ),
    QueryDef(
      "g02_graph_rank_weighted",
      // weighted PageRank ([[GraphRank.pageRankWeighted]]): the same
      // customer—supplier graph with edge weight = TRANSACTION COUNT
      // (parallel orders strengthen the link, the real link-graph
      // shape — Common Crawl-style centrality weights by link
      // multiplicity). Mass distributes (score·w) div wsum, computed
      // through the overflow-safe split identity; the oracle keeps the
      // plain product form — the identity guarantees equal digits.
      (s, d) => {
        val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(
            Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .agg(count(lit(1)).as("w"))
        GraphRank.pageRankWeighted(e, iters = 3).withColumnRenamed("node", "node_id")
      },
      Some {
        def iter(k: Int) =
          s"""i$k AS (SELECT u.dst AS node, CAST(sum((r.score_e9 * u.w) // n.wsum) AS BIGINT) AS inflow
             |  FROM und u JOIN r${k - 1} r ON r.node = u.src JOIN ws n ON n.src = u.src GROUP BY 1),
             |r$k AS (SELECT n.node, 150000000 + (85 * coalesce(i.inflow, 0)) // 100 AS score_e9
             |  FROM nodes n LEFT JOIN i$k i ON i.node = n.node)""".stripMargin
        s"""WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, count(*) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
           |und AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM
           |  (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0) GROUP BY 1, 2),
           |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM und GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM und),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score_e9 FROM nodes),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node AS node_id, CAST(score_e9 AS BIGINT) AS score_e9 FROM r3""".stripMargin
      }
    ),
    QueryDef(
      "q22_approx_distinct",
      // HLL register values are engine-specific, so the raw estimates
      // can never hash-match a DuckDB oracle — but the CONTRACT can:
      // the query emits the exact counts plus booleans asserting each
      // HLL estimate lands within 10% relative error of its exact
      // count. The bound is TWO sigma of HLL++'s default rsd 0.05
      // (HLL error is ~Gaussian with sigma = rsd, independent of
      // cardinality — a 1-sigma 5% gate would flip red on ~1/3 of
      // fresh datasets with no engine drift). Two independent 2-sigma
      // booleans still jointly fail ~9% of arbitrary fresh datasets,
      // so the gate is NOT distribution-free: it is validated against
      // the fixed fixture datasets (whose observed errors sit well
      // inside 10%), where it is deterministic. The oracle pins the
      // exact counts and expects the booleans literally TRUE, so a
      // genuinely drifting sketch still turns this row red.
      (s, d) => {
        // r22 (guide §2.3, probe-driven): mixing count(DISTINCT) with
        // approx_count_distinct makes RewriteDistinctAggregates carry
        // BOTH HLL sketches as partial aggregation state PER DISTINCT
        // KEY through the Expand — the sf0.1 plan shuffled ~790k
        // (key, gid) rows × 104 sketch columns. HLL registers are
        // duplicate- and order-insensitive, so the sketches compute in
        // their own single-pass aggregation (two sketches total,
        // map-side combined) and the exact distincts keep the slim
        // Expand-dedup plan; the two 1-row results recombine with a
        // crossJoin. Values are identical by HLL's set-function
        // property (registers are maxima over the hashed value SET).
        val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_orderkey"))
        val approx = li.agg(
          approx_count_distinct(col("l_partkey")).as("ap"),
          approx_count_distinct(col("l_orderkey")).as("ao"))
        li.agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            countDistinct(col("l_orderkey")).as("exact_orders"))
          .crossJoin(approx)
          .select(
            col("exact_parts"),
            col("exact_orders"),
            (abs(col("ap") - col("exact_parts"))
              <= col("exact_parts") * 0.10).as("parts_within_10pct"),
            (abs(col("ao") - col("exact_orders"))
              <= col("exact_orders") * 0.10).as("orders_within_10pct"))
      },
      Some("""SELECT count(DISTINCT l_partkey) AS exact_parts,
             |count(DISTINCT l_orderkey) AS exact_orders,
             |TRUE AS parts_within_10pct, TRUE AS orders_within_10pct
             |FROM lineitem""".stripMargin)
    ),
    QueryDef(
      "q35_approx_quantile",
      // the quantile-sketch twin of q22: approx_percentile (Spark's
      // mergeable Greenwald-Khanna sketch — the map-side-combinable
      // shape that profiles a 100 TB column in one pass, where exact
      // q27 needs a per-group sort) gated behind its own checkable
      // contract. The sketch's guarantee is on RANK: the returned
      // value's exact rank interval [#{x<v}+1, #{x<=v}] must intersect
      // q·n ± (n/accuracy + 1). The query computes that interval
      // exactly in-engine and emits booleans; the oracle pins the
      // exact group counts and expects TRUE — a drifting sketch turns
      // the row red instead of hiding behind a rows-only check.
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
        val ap = li.groupBy("flag").agg(
          count(lit(1)).as("n"),
          expr("approx_percentile(x, 0.5, 1000)").as("ap50"),
          expr("approx_percentile(x, 0.9, 1000)").as("ap90"))
        def ok(q: Double, lt: String, le: String) =
          (col(le) >= col("n") * q - (col("n") / 1000.0 + 1.0)) &&
            (col(lt) + 1 <= col("n") * q + (col("n") / 1000.0 + 1.0))
        li.join(ap, "flag")
          .groupBy("flag")
          .agg(
            first(col("n")).as("n"),
            sum(when(col("x") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("x") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("x") < col("ap90"), 1L).otherwise(0L)).as("lt90"),
            sum(when(col("x") <= col("ap90"), 1L).otherwise(0L)).as("le90"))
          .select(col("flag"), col("n"),
            ok(0.5, "lt50", "le50").as("p50_rank_ok"),
            ok(0.9, "lt90", "le90").as("p90_rank_ok"))
      },
      Some("""SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
             |TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),

    // ============================ dedup suite =============================
    QueryDef("d01_minhash_lsh", (s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text", 0.5),
      Some(minhashLshSql(0.5))),
    QueryDef("d02_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 3)
        .withColumn("hamming", col("hamming").cast("long")),
      Some(simhashPairsSql(3))),
    QueryDef("d03_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding", 0.4, 32, 64),
      Some(embeddingNearDupSql(0.4, 32, 64))),
    QueryDef("d04_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text", 20, 0.2),
      Some(ngramJaccardSql(20, 0.2))),
    QueryDef("d06_set_similarity_join", (s, d) =>
      // EXACT all-pairs Jaccard over the full corpus, but scalable:
      // prefix filtering turns the quadratic comparison into an equi
      // self-join on rare-first prefix tokens + exact verify (d04 keeps
      // the declared quadratic baseline for contrast; this is the form
      // that survives 100 TB)
      Dedup.exactJaccardJoin(Tables.documents(s, d), "doc_id", "text", 0.5),
      Some(exactJaccardJoinSql(0.5))),
    QueryDef("d05_dedup_clusters", (s, d) =>
      // pair-to-cluster resolution: the step after candidate pairing —
      // min-label connected components over the d01 near-dup graph
      Dedup.dedupClusters(Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text", 0.5)),
      Some(dedupClustersSql(0.5))),
    QueryDef("d07_incremental_dedup", (s, d) => {
      // the production ingest shape: a new batch (doc_id % 7) deduped
      // against the existing corpus without re-running the all-pairs
      // self-join — batch bands broadcast against the corpus bands
      val docs = Tables.documents(s, d)
      Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text", 0.5)
    }, Some(minhashIncrementalSql(7, 0.5))),
    QueryDef("d08_canonical_docs", (s, d) => {
      // quality-aware representative selection ([[Dedup.canonicalDocs]]):
      // the d05 clusters decide WHAT is duplicated, the t02 quality
      // signal decides WHICH copy survives — keep the richest
      // high-quality member per cluster instead of naive min-id
      val docs = Tables.documents(s, d)
      // one corpus tokenization for both signals (r22, guide §2.4):
      // the quality-metric pass and the minhash shingle table each
      // re-read and re-tokenized the corpus text — the cut
      // materializes (doc_id, quality, n_tokens, sh) once, the exact
      // per-signal expressions computed from the two token streams
      // (metrics from tokens(lower(text)), shingles from tokens(text))
      val toksL = col("tkl")
      val nStop = size(filter(toksL, t => t.isInCollection(Text.stopwords)))
      val tokd = Reliability.cut(
        Par.widen(docs.select(col("doc_id"),
            Text.tokens(col("text")).as("tk"),
            Text.tokens(lower(col("text"))).as("tkl")))
          .select(col("doc_id"),
            Text.qualityBucket(size(toksL), nStop).cast("long").as("quality"),
            size(toksL).cast("long").as("n_tokens"),
            Text.shingles(col("tk"), 3).as("sh")))
      Dedup.canonicalDocsFromMetrics(
        tokd.select(col("doc_id").cast("long").as("doc_id"),
          col("quality"), col("n_tokens")),
        Dedup.dedupClusters(Dedup.minhashLshFromShingles(
          tokd.filter(size(col("sh")) > 0).select(col("doc_id").as("id"), col("sh")), 0.5)))
    }, Some(canonicalDocsSql(0.5))),
    QueryDef("d09_corpus_overlap", (s, d) => {
      // cross-corpus overlap from MERGEABLE KMV sketches ([[Sketch]]):
      // the "how much of corpus B is already in A" question a mixing
      // decision asks, answered from two k-row sketches instead of a
      // corpus-sized distinct per comparison. Corpora: source pools
      // src0–src9 (A) vs src10–src19 (B), elements: 3-gram shingles.
      // The exact side rides along as the small-SF validation twin —
      // at scale only the sketch path runs (sketch once, compare many).
      val docs = Tables.documents(s, d)
      // the exploded (corp, gram) stream feeds BOTH the sketch build
      // and the exact validation twin — cut once so the corpus is
      // tokenized+shingled once, not once per consumer (r21; at scale
      // only the sketch path runs, so the cut prices the validation
      // composite, not the production sketch)
      val grams = Reliability.cut(docs.select(
        when(expr("CAST(substring(source, 4) AS INT) < 10"), lit("A"))
          .otherwise(lit("B")).as("corp"),
        explode(Text.shingles(Text.tokens(lower(col("text"))), 3)).as("gram")))
      val sk = Sketch.kmvMinima(grams, "gram", "corp", seed = 29, k = 256)
      val est = Sketch.kmvOverlap(sk, "corp", "A", "B", k = 256)
      // no distinct() ahead of the groupBy: max over 0/1 membership
      // indicators is duplicate-proof, and the pre-distinct was a
      // second corpus-wide shuffle of the gram text (r21, guide §2.4)
      val flags = grams.groupBy("gram").agg(
        max(when(col("corp") === "A", 1L).otherwise(0L)).as("ia"),
        max(when(col("corp") === "B", 1L).otherwise(0L)).as("ib"))
      val exact = flags.agg(
        sum(expr("ia * ib")).as("exact_inter"),
        count(lit(1)).as("exact_union"))
      est.crossJoin(exact)
        .withColumn("exact_jaccard_e6", expr("(exact_inter * 1000000L) div exact_union"))
    }, Some(corpusOverlapSql(29, 256))),

    QueryDef(
      "d10_kmv_maintenance",
      // the maintained DISTINCT sketch driven end-to-end through the
      // gate (the t29 shape, k-minima edition): four disjoint document
      // batches each build a per-language [[Sketch.kmvMinima]] token
      // sketch and [[Sketch.kmvCombine]] folds them one at a time —
      // one lazy plan, each input referenced once, no history rescan,
      // every fold stage working on ≤ 2k rows per language. Because
      // the KMV merge is a set union re-trimmed to the k smallest
      // distinct hashes, the folded state must equal the whole-corpus
      // build EXACTLY — so the oracle rebuilds the minima from scratch
      // in one pass and the hash match proves fold ≡ whole (stronger
      // than an estimate spot-check; q34 gates the estimator, st09 the
      // streaming member). The state this query emits is the table a
      // real ingest stores: [[Sketch.kmvEstimate]] reads per-language
      // distinct-vocabulary counts off it and [[Sketch.kmvOverlap]]
      // reads cross-corpus containment (the d09 question) — one
      // maintained sketch, both answers, history never rescanned.
      (s, d) => {
        val k = 64
        // ONE corpus pass (the t27 one-scan lesson): the tokenize +
        // explode + distinct runs once and the cut materializes the
        // (batch, lang, token) pairs — each batch sketch slices the
        // materialized blocks, so the plan reads parquet once where
        // the naive form rescanned the corpus per batch (and twice
        // per batch through stratifiedCap's threshold pass). A real
        // ingest sees each batch once, and so does this plan.
        val pairs = Reliability.cut(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"),
              explode(Text.tokens(lower(col("text")))).as("token"))
            .select(pmod(col("doc_id"), lit(4)).as("batch"), col("lang"), col("token"))
            .distinct())
        def batchSketch(i: Int) = Sketch.kmvMinima(
          pairs.filter(col("batch") === i).select("lang", "token"),
          "token", "lang", seed = 31, k = k)
        // chainCombine: 4 folds stay one uncut lazy plan (the default
        // cut-every-8 only engages on longer simulated chains)
        Sketch.chainCombine(
          (0 to 3).map(batchSketch),
          (st, b) => Sketch.kmvCombine(st, b, "lang", k))
      },
      Some(s"""WITH toks AS (SELECT lang, unnest(${toksSql("lower(text)")}) AS token FROM documents),
              |hs AS (SELECT DISTINCT lang,
              |  ${Hashing.md5LongSql("concat('cap:', token)", 31)} AS h FROM toks),
              |capped AS (SELECT * FROM hs
              |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h) <= 64)
              |SELECT lang, h FROM capped""".stripMargin)
    ),

    // ============== embedding aggregation (training-data ops) =============
    QueryDef(
      "s03_label_centroids",
      (s, d) =>
        // per-class centroid, long form: one row per (label, dim). The
        // sum runs through DECIMAL so it is partition-order-exact; the
        // final division is one double op — deterministic both engines.
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim").cast("long").as("dim"))
          .agg(
            count(lit(1)).as("n"),
            (sum(col("x").cast("double").cast("decimal(18,9)")).cast("double") / count(lit(1)))
              .as("centroid")
          ),
      Some("""SELECT label, i - 1 AS dim, count(*) AS n,
             |CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS centroid
             |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
             |WHERE i <= len(embedding)
             |GROUP BY 1, 2""".stripMargin)
    ),

    QueryDef(
      "s05_quantize",
      (s, d) => Quantize.int8Stats(Tables.embeddings(s, d), "vec_id", "embedding"),
      Some("""WITH e AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
             |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
             |  WHERE i <= len(embedding)),
             |m AS (SELECT vec_id, max(abs(x)) AS mx FROM e GROUP BY 1),
             |q AS (SELECT e.vec_id,
             |  CASE WHEN mx = 0 THEN 0 ELSE CAST(floor(x * 127.0 / mx) AS BIGINT) END AS q
             |  FROM e JOIN m ON e.vec_id = m.vec_id)
             |SELECT vec_id, CAST(SUM(q) AS BIGINT) AS sum_q, min(q) AS min_q, max(q) AS max_q
             |FROM q GROUP BY 1""".stripMargin)
    ),

    // ========================== similarity search =========================
    QueryDef(
      "s15_random_projection",
      // sign-random-projection dim reduction ([[Similarity.srpProject]]):
      // the real-valued JL projections the LSH path thresholds into
      // bits, kept as a 16-d embedding — the compression pre-pass that
      // lets downstream clustering/ANN run on 16 floats instead of 64.
      // Pure per-row work (16 codegen'd dots against plan-literal sign
      // rows, no shuffle); the md5-derived matrix is data-free, so the
      // oracle re-renders the identical literals and folds each dot in
      // the same index order.
      (s, d) => Similarity.srpProject(Tables.embeddings(s, d), "vec_id", "embedding", m = 16, dim = 64),
      Some(srpProjectSql(16, 64))
    ),
    QueryDef("s01_ann_bruteforce", (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding", 50, 10)
        .withColumn("rk", col("rk").cast("long")),
      Some(bruteForceTopKSql(50, 10))),
    QueryDef("s02_ann_lsh", (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding", 50, 10, 16, 64)
        .withColumn("rk", col("rk").cast("long")),
      Some(lshTopKSql(50, 10, 16, 64))),
    QueryDef("s04_ann_ivf", (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding", 8, 2, 20, 10)
        .withColumn("rk", col("rk").cast("long")),
      Some(ivfTopKSql(8, 2, 20, 10))),

    QueryDef("s09_ann_recall", (s, d) => {
      // the ANN quality gate: recall@10 of the IVF index (s04 params)
      // against the exact brute-force top-10 (s01 shape) on the same
      // 20-query sample. The quadratic truth side is bounded by the
      // SAMPLE (20 queries x corpus, linear in corpus) — the eval
      // never runs all-pairs. Integer micro-units per the t04 rule.
      val emb = Tables.embeddings(s, d)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 20, 10)
        .select(col("query_id"), col("cand_id"))
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", 8, 2, 20, 10)
        .select(col("query_id"), col("cand_id"))
      val hits = approx.join(truth, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("query_id"), "left")
        .select(
          col("query_id"), col("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_e6", expr("(n_hit * 1000000L) div n_true"))
    }, Some {
      s"""WITH truth AS (${bruteForceTopKSql(20, 10)}),
         |approx AS (${ivfTopKSql(8, 2, 20, 10)}),
         |h AS (SELECT a.query_id, count(*) AS n_hit FROM approx a
         |  JOIN truth t ON a.query_id = t.query_id AND a.cand_id = t.cand_id GROUP BY 1),
         |tt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY 1)
         |SELECT tt.query_id, n_true, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |coalesce(n_hit, 0) * 1000000 // n_true AS recall_e6
         |FROM tt LEFT JOIN h ON tt.query_id = h.query_id""".stripMargin
    }),

    QueryDef("s10_pq_codes", (s, d) => {
      // product quantization encoding — the ANN memory-compression
      // story s05's scalar int8 doesn't cover: each vector splits into
      // 4 subvectors of 16 dims, each assigned to its nearest codeword
      // (L2, data-point codebook = subvectors of vec_id < 8, the IVF
      // coarse-quantizer pattern), so a 64-float vector serves from 4
      // small codes. Codebook is broadcast (nCent x nSub rows); the
      // corpus streams once; argmin = min over (dist, cid) structs with
      // the cid tie-break the oracle's window replicates. Distances
      // are identical-order IEEE folds both engines, rounded to 5
      // BEFORE the argmin so ties are decided on equal ground.
      Quantize.pqEncode(
        graft.core.Par.widen(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nSub = 4, subDim = 16, nCent = 8)
    }, Some {
      def dot(a: String, b: String) = Vectors.dotSql(a, b)
      s"""WITH sv AS (SELECT vec_id, CAST(m AS BIGINT) AS sub,
         |  list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
         |  FROM embeddings, (SELECT unnest(generate_series(0, 3)) AS m) g),
         |cents AS (SELECT vec_id AS cid, sub, sv AS cv FROM sv WHERE vec_id < 8),
         |scored AS (SELECT s.vec_id, s.sub, c.cid,
         |  round(${dot("s.sv", "s.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("s.sv", "c.cv")}, 5) AS dist
         |  FROM sv s JOIN cents c ON s.sub = c.sub)
         |SELECT vec_id, sub, cid AS code, dist FROM
         |(SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cid ASC) AS rn FROM scored)
         |WHERE rn = 1""".stripMargin
    }),

    QueryDef("s11_pq_adc", (s, d) =>
      // the serving half of PQ ([[Quantize.pqAdcTopK]]): each query
      // precomputes its codeword distance table (broadcast); candidates
      // contribute only (id, sub, code) triples — raw corpus vectors
      // never enter the search. Integer 1e-5 distance units make the
      // per-candidate sum order-free long arithmetic. Queries are
      // vec_id % 13 (the s08 serving convention), top-5.
      Quantize.pqAdcTopK(
        graft.core.Par.widen(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nSub = 4, subDim = 16, nCent = 8, queryMod = 13, k = 5),
      Some(pqAdcServeSql)),

    QueryDef("s14_pq_adc_indexed", (s, d) => {
      // ADC served from the stored [[Quantize.PqIndex]] — the corpus
      // encoded ONCE into the persistable (codebook, codes) artifact,
      // query batches served without re-reading or re-encoding it (the
      // s08 serving story, PQ edition). Identical serving arithmetic
      // to s11 by construction, so the s11 oracle gates the indexed
      // path — the st05/st06 convention applied to PQ.
      val emb = graft.core.Par.widen(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"))
      val idx = Quantize.preparePqIndex(emb, "vec_id", "embedding",
        nSub = 4, subDim = 16, nCent = 8)
      Quantize.pqAdcTopKIndexed(
        emb.filter(col("vec_id") % 13 === 0), "vec_id", "embedding", idx, k = 5)
    }, Some(pqAdcServeSql)),

    QueryDef("s12_ivf_pq", (s, d) =>
      // the composed serving architecture ([[Quantize.ivfPqTopK]]):
      // IVF cells bound WHICH candidates a query touches (~nProbe/8 of
      // the corpus), PQ/ADC bounds WHAT each touch costs (4 table
      // lookups on codes — raw vectors never enter the search). Same
      // coarse quantizer as s04/s08, same codebook/distance units as
      // s10/s11, so the composition is the only new arithmetic.
      Quantize.ivfPqTopK(
        graft.core.Par.widen(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding",
        nCoarse = 8, nSub = 4, subDim = 16, nCent = 8, nProbe = 2, queryMod = 13, k = 5),
      Some {
        def dot(a: String, b: String) = Vectors.dotSql(a, b)
        s"""WITH base AS (SELECT vec_id AS id, embedding AS vec,
           |  sqrt(${dot("embedding", "embedding")}) AS nrm FROM embeddings),
           |ccents AS (SELECT id AS ccid, vec AS ccv, nrm AS ccn FROM base WHERE id < 8),
           |cscored AS (SELECT b.id, c.ccid,
           |  CASE WHEN b.nrm * c.ccn = 0 THEN 0.0 ELSE ${dot("b.vec", "c.ccv")} / (b.nrm * c.ccn) END AS csim
           |  FROM base b CROSS JOIN ccents c),
           |cranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, ccid ASC) AS r FROM cscored),
           |assigned AS (SELECT id, ccid AS cluster FROM cranked WHERE r = 1),
           |probes AS (SELECT id AS query_id, ccid AS cluster FROM cranked WHERE r <= 2 AND id % 13 = 0),
           |sv AS (SELECT vec_id, CAST(m AS BIGINT) AS sub,
           |  list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
           |  FROM embeddings, (SELECT unnest(generate_series(0, 3)) AS m) g),
           |cents AS (SELECT vec_id AS cid, sub, sv AS cv FROM sv WHERE vec_id < 8),
           |pscored AS (SELECT s.vec_id, s.sub, c.cid,
           |  round(${dot("s.sv", "s.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("s.sv", "c.cv")}, 5) AS dist
           |  FROM sv s JOIN cents c ON s.sub = c.sub),
           |codes AS (SELECT vec_id AS cand_id, sub, cid AS code FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cid ASC) AS rn FROM pscored)
           |  WHERE rn = 1),
           |cellcodes AS (SELECT c.cand_id, a.cluster, c.sub, c.code
           |  FROM codes c JOIN assigned a ON a.id = c.cand_id),
           |q AS (SELECT vec_id AS query_id, sub, sv FROM sv WHERE vec_id % 13 = 0),
           |qtab AS (SELECT query_id, c.sub, c.cid,
           |  CAST(round((${dot("q.sv", "q.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("q.sv", "c.cv")}) * 100000, 0) AS BIGINT) AS dq_e5
           |  FROM q JOIN cents c ON q.sub = c.sub),
           |adc AS (SELECT p.query_id, cc.cand_id, CAST(sum(t.dq_e5) AS BIGINT) AS adc_e5
           |  FROM probes p
           |  JOIN cellcodes cc ON cc.cluster = p.cluster AND cc.cand_id != p.query_id
           |  JOIN qtab t ON t.query_id = p.query_id AND t.sub = cc.sub AND t.cid = cc.code
           |  GROUP BY 1, 2)
           |SELECT query_id, cand_id, adc_e5, rk FROM
           |(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_e5 ASC, cand_id ASC) AS BIGINT) AS rk FROM adc)
           |WHERE rk <= 5""".stripMargin
      }),

    QueryDef("s13_hybrid_rrf", (s, d) =>
      // hybrid retrieval ([[Retrieval.hybridTopK]]): dense cosine
      // top-10 (s01's exact baseline — production swaps in the s08/s12
      // index; the fusion is ranking-agnostic) fused with an
      // inverted-index lexical top-10 by reciprocal-rank fusion. The
      // lexical weights are the log-free IDF proxy `N div df`, the RRF
      // score `1e9 div (60 + rank)` — integer division end-to-end, so
      // the two-tower composition crosses the oracle gate exactly.
      // Terms in more than half the corpus are barred from candidate
      // generation (the df cap that stops a stopword's df² posting
      // fan-out at scale).
      Retrieval.hybridTopK(
        Tables.documents(s, d), Tables.embeddings(s, d),
        "doc_id", "text", "vec_id", "embedding",
        nQueries = 20, kEach = 10, k0 = 60, k = 5, maxDfPermille = 500),
      Some {
        val dot = Vectors.dotSql("q.embedding", "c.embedding")
        val tk = toksSql("lower(text)")
        s"""WITH e AS (SELECT vec_id, embedding,
           |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
           |p AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |  CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE $dot / (q.nrm * c.nrm) END AS cosine
           |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id != c.vec_id),
           |dense AS (SELECT query_id, cand_id, rk FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk FROM p)
           |  WHERE rk <= 10),
           |post AS (SELECT DISTINCT id, term FROM
           |  (SELECT doc_id AS id, unnest($tk) AS term FROM documents)),
           |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
           |nt AS (SELECT count(*) AS n_total FROM documents),
           |wt AS (SELECT term, n_total // df AS wt FROM dfreq CROSS JOIN nt
           |  WHERE df * 1000 <= 500 * n_total),
           |lexs AS (SELECT q.id AS query_id, c.id AS cand_id, CAST(sum(wt) AS BIGINT) AS lex_score
           |  FROM post q JOIN post c ON q.term = c.term AND q.id < 20 AND c.id != q.id
           |  JOIN wt ON wt.term = q.term GROUP BY 1, 2),
           |lex AS (SELECT query_id, cand_id, rk FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY lex_score DESC, cand_id ASC) AS rk FROM lexs)
           |  WHERE rk <= 10),
           |fused AS (SELECT coalesce(d.query_id, l.query_id) AS query_id,
           |  coalesce(d.cand_id, l.cand_id) AS cand_id,
           |  coalesce(1000000000 // (60 + d.rk), 0) + coalesce(1000000000 // (60 + l.rk), 0) AS rrf_e9
           |  FROM dense d FULL OUTER JOIN lex l ON d.query_id = l.query_id AND d.cand_id = l.cand_id)
           |SELECT query_id, cand_id, CAST(rrf_e9 AS BIGINT) AS rrf_e9, rk FROM
           |(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_e9 DESC, cand_id ASC) AS BIGINT) AS rk FROM fused)
           |WHERE rk <= 5""".stripMargin
      }),

    QueryDef("s06_semantic_decontaminate", (s, d) =>
      // embedding-space twin of t12 ([[Decontaminate.semanticContamination]]):
      // max cosine of each train vector vs the broadcast eval set
      // (vec_id % 19), flagged at the d03 near-dup threshold.
      Decontaminate.semanticContamination(
        Tables.embeddings(s, d), "vec_id", "embedding",
        isEval = col("vec_id") % 19 === 0, threshold = 0.4),
      Some(semanticContaminationSql(19, 0.4))),

    QueryDef("s07_embedding_incremental_dedup", (s, d) => {
      // the d07 production-ingest shape for vectors: a new batch
      // (vec_id % 7) near-dup-checked against the existing corpus via
      // the stored SRP-band artifact — batch coded + broadcast, corpus
      // never recoded or self-joined
      // threshold 0.35 (vs d03's 0.4): cross pairs are ~1/7 of the
      // self-join's, and at sf0.001 none of the few ≥0.4 survivors land
      // in a shared SRP bucket — 0.35 keeps the smoke gate (rows > 0)
      // meaningful at every sf
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingNearDupIncremental(
        emb.filter(col("vec_id") % 7 === 0),
        emb.filter(col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", 0.35, 32, 64)
    }, Some(embeddingNearDupIncSql(7, 0.35, 32, 64))),

    QueryDef("s08_ann_ivf_indexed", (s, d) => {
      // the ANN SERVING shape: the IVF index (quantizer + inverted
      // file) is a stored artifact; a query batch (vec_id % 13) probes
      // it without the corpus ever being re-assigned — completes the
      // stored-artifact trilogy (d07 text, s07 vectors, s08 ANN)
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopKIndexed(
        emb.filter(col("vec_id") % 13 === 0), "vec_id", "embedding",
        Similarity.prepareIvfIndex(emb, "vec_id", "embedding", 8),
        nProbe = 2, k = 5)
        .withColumn("rk", col("rk").cast("long"))
    }, Some(ivfIndexedSql(8, 2, 13, 5))),

    QueryDef("s16_ivf_incremental", (s, d) => {
      // the maintained ANN INDEX driven through the gate (the d10/t29
      // shape, inverted-file edition): four disjoint embedding batches
      // each assign against the FROZEN quantizer (one broadcast-argmax
      // pass per batch — the corpus is never re-assigned, the index
      // never rebuilt) and [[Similarity.ivfAppend]] folds the postings
      // one at a time. Assignment is per-row independent, so the
      // folded inverted file must equal the whole-corpus
      // [[Similarity.prepareIvfIndexWith]] assignment EXACTLY — the
      // oracle recomputes it from scratch and the hash match proves
      // fold ≡ rebuild. The corpus is read ONCE (the cut), each batch
      // slicing materialized blocks. The stored-state twin
      // ([[Similarity.ivfFoldInto]]: per-bucket partition commit with
      // write cost ∝ batch, replay idempotence, quantizer-digest
      // drift guard) and serving equality off the folded state are
      // SimilaritySpec-pinned; s08 gates the serve path itself. The
      // LAST fold also retires a delete set (vec_id ≡ 3 mod 17 — the
      // d08 non-canonical-drop shape) in the same anti-join pass, so
      // the gate pins fold-with-deletes ≡ rebuild-from-survivors.
      val base = Reliability.cut(
        Tables.embeddings(s, d).select(
          col("vec_id"), col("embedding"), pmod(col("vec_id"), lit(4)).as("batch")))
      val cents = base.filter(col("vec_id") < 8).select(
        col("vec_id").as("cid"), col("embedding").as("cvec"),
        graft.functions.VectorExpressions.normF(col("embedding")).as("cnrm"))
      // each batch's assignment is CUT: the fold algebra references a
      // delta twice (retired-ids derivation + the union), and the
      // broadcast-argmax subtree would otherwise execute twice per
      // batch (r21 probe: 8 concurrent assignment stage-jobs for 4
      // batches). The cut output is bounded by the batch (id, cluster
      // + vector columns), exactly what a real ingest materializes
      // before folding.
      def assign(i: Int) = Reliability.cut(Similarity.prepareIvfIndexWith(
        base.filter(col("batch") === i).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents).assigned)
      // the four batch materializations are independent — submit them
      // from a small thread pool (guide §2.6) so their jobs overlap
      // instead of serializing four eager cuts
      val assigns = graft.core.Par.inParallel(4)(assign)
      val dels = base.select(col("vec_id").as("id"))
        .filter(pmod(col("id"), lit(17)) === 3)
      val upTo2 = (1 to 2).foldLeft(assigns(0))((st, i) => Similarity.ivfAppend(st, assigns(i)))
      Similarity.ivfAppend(upTo2, assigns(3), Some(dels))
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))
    }, Some {
      val dot = Vectors.dotSql("b.vec", "c.cvec")
      s"""WITH base AS (SELECT vec_id AS id, embedding AS vec,
         |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |cents AS (SELECT id AS cid, vec AS cvec, nrm AS cnrm FROM base WHERE id < 8),
         |scored AS (SELECT b.id, c.cid,
         |  CASE WHEN b.nrm * c.cnrm = 0 THEN 0.0 ELSE $dot / (b.nrm * c.cnrm) END AS csim
         |  FROM base b CROSS JOIN cents c),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid ASC) AS r FROM scored)
         |SELECT id AS vec_id, CAST(cid AS BIGINT) AS cluster FROM ranked
         |WHERE r = 1 AND NOT (id % 17 = 3)""".stripMargin
    }),

    QueryDef("s17_pq_incremental", (s, d) => {
      // the maintained PQ ENCODED CORPUS driven through the gate (the
      // s16 shape, codes edition): four disjoint embedding batches
      // each encode against the FROZEN data-point codebook (one
      // broadcast argmin pass per batch — the corpus is never
      // re-encoded, the codebook never re-derived) and
      // [[Quantize.pqAppend]] folds the (cand_id, sub, code) rows one
      // at a time; the last fold retires a delete set (vec_id ≡ 5
      // mod 19) in the same anti-join pass. Encoding is per-row
      // independent, so the folded codes must equal the whole-corpus
      // [[Quantize.pqEncode]] minus the deletions EXACTLY — the
      // oracle recomputes from scratch and the hash match proves
      // fold ≡ rebuild. The stored twin ([[Quantize.pqFoldInto]]:
      // bucket-partitioned state with write cost ∝ batch, crash-safe
      // per-bucket commit, replay idempotence, `.pq-params`
      // codebook-digest drift guard) and ADC serving equality off the
      // folded state are QuantizeSpec-pinned; s14 gates the serve
      // path itself.
      val base = Reliability.cut(
        graft.core.Par.widen(Tables.embeddings(s, d)).select(
          col("vec_id"), col("embedding"), pmod(col("vec_id"), lit(4)).as("batch")))
      val codebook = Quantize.pqCodebook(base, "vec_id", "embedding", nSub = 4, subDim = 16, nCent = 8)
      // each batch's encode is CUT — the s16 rationale, codes edition:
      // the fold references a delta twice, and the broadcast-argmin
      // encode subtree would otherwise run twice per batch
      def encode(i: Int) = Reliability.cut(Quantize.pqEncodeWith(
        base.filter(col("batch") === i).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", codebook, nSub = 4, subDim = 16)
        .select(col("vec_id").as("cand_id"), col("sub"), col("code")))
      // independent batch materializations overlap (guide §2.6 — the
      // s16 thread-pool rationale, codes edition)
      val encodes = graft.core.Par.inParallel(4)(encode)
      val dels = base.select(col("vec_id").as("cand_id"))
        .filter(pmod(col("cand_id"), lit(19)) === 5)
      val upTo2 = (1 to 2).foldLeft(encodes(0))((st, i) => Quantize.pqAppend(st, encodes(i)))
      Quantize.pqAppend(upTo2, encodes(3), Some(dels))
        .select(col("cand_id").as("vec_id"), col("sub"), col("code"))
    }, Some {
      def dot(a: String, b: String) = Vectors.dotSql(a, b)
      s"""WITH sv AS (SELECT vec_id, CAST(m AS BIGINT) AS sub,
         |  list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
         |  FROM embeddings, (SELECT unnest(generate_series(0, 3)) AS m) g),
         |cents AS (SELECT vec_id AS cid, sub, sv AS cv FROM sv WHERE vec_id < 8),
         |scored AS (SELECT s.vec_id, s.sub, c.cid,
         |  round(${dot("s.sv", "s.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("s.sv", "c.cv")}, 5) AS dist
         |  FROM sv s JOIN cents c ON s.sub = c.sub)
         |SELECT vec_id, sub, cid AS code FROM
         |(SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cid ASC) AS rn FROM scored)
         |WHERE rn = 1 AND NOT (vec_id % 19 = 5)""".stripMargin
    }),

    // ============================ text analysis ===========================
    QueryDef(
      "t01_lang_id",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), Text.langId(Text.tokens(lower(col("text")))).as("lang_pred"))
          .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang, ${Text.langIdSql(toksSql("lower(text)"))} AS lang_pred, count(*) AS n
              |FROM documents GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "t02_quality_score",
      (s, d) => {
        val toks = Text.tokens(lower(col("text")))
        val nToks = size(toks)
        val nStop = size(filter(toks, t => t.isInCollection(Text.stopwords)))
        Tables.documents(s, d).select(
          col("doc_id"),
          nToks.cast("long").as("n_tokens"),
          nStop.cast("long").as("n_stopwords"),
          Text.bpeishCount(col("text")).cast("long").as("n_bpeish"),
          Text.qualityBucket(nToks, nStop).as("quality")
        )
      },
      Some {
        val tk = toksSql("lower(text)")
        val stop = Text.stopwords.map(w => s"'$w'").mkString(",")
        s"""SELECT doc_id, len($tk) AS n_tokens,
           |len(list_filter($tk, t -> t IN ($stop))) AS n_stopwords,
           |len(regexp_extract_all(text, '${Text.bpeishPattern}')) AS n_bpeish,
           |CASE WHEN len($tk) >= 20 AND 20 * len(list_filter($tk, t -> t IN ($stop))) >= len($tk) THEN 2
           |WHEN len($tk) >= 5 THEN 1 ELSE 0 END AS quality
           |FROM documents""".stripMargin
      }
    ),
    QueryDef(
      "t03_fingerprint",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          Text.fingerprint(Text.tokens(col("text"))).as("fp")
        ),
      Some(s"""SELECT doc_id, ${Text.fingerprintSql(toksSql("text"))} AS fp FROM documents""")
    ),

    QueryDef(
      "t04_text_stats",
      (s, d) => {
        val toks = Text.tokens(lower(col("text")))
        // avg_tokens is exported as micro-token units (BIGINT) so both engines
        // compare in exact integer arithmetic — a rounded double legitimately
        // differs by 1 ulp between Spark (BigDecimal HALF_UP) and DuckDB
        // (binary double rounding), which flickered the hash gate in r2/r3.
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(toks)).cast("long").as("n_tokens"),
            countDistinct(col("source")).as("n_sources"),
            max(col("n_chars")).as("max_chars")
          )
          .withColumn("avg_tokens_e6", expr("(n_tokens * 1000000L) div n_docs"))
      },
      Some(s"""SELECT lang, count(*) AS n_docs,
              |CAST(SUM(len(${toksSql("lower(text)")})) AS BIGINT) AS n_tokens,
              |CAST(SUM(len(${toksSql("lower(text)")})) AS BIGINT) * 1000000 // count(*) AS avg_tokens_e6,
              |count(DISTINCT source) AS n_sources, max(n_chars) AS max_chars
              |FROM documents GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "t09_repetition",
      // Gopher-style repetition signal: fraction of duplicated word
      // bigrams per document. Total bigrams is size(toks)-1 (no second
      // pass); distinct bigrams reuses the codegen'd first-occurrence
      // shingle expression. Ratio exported in exact integer micro-units
      // (the t04 rule: no rounded doubles cross the oracle gate).
      (s, d) => {
        val toks = Text.tokens(lower(col("text")))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            greatest(size(toks) - 1, lit(0)).cast("long").as("n_bigrams"),
            size(Text.shingles(toks, 2)).cast("long").as("n_uniq_bigrams")
          )
          .withColumn(
            "rep_e6",
            expr("CASE WHEN n_bigrams > 0 THEN ((n_bigrams - n_uniq_bigrams) * 1000000L) div n_bigrams ELSE 0L END"))
      },
      Some {
        val tk = toksSql("lower(text)")
        s"""WITH b AS (SELECT doc_id,
           |  CAST(greatest(len($tk) - 1, 0) AS BIGINT) AS n_bigrams,
           |  CAST(len(${Text.shinglesSql(tk, 2)}) AS BIGINT) AS n_uniq_bigrams
           |FROM documents)
           |SELECT doc_id, n_bigrams, n_uniq_bigrams,
           |CASE WHEN n_bigrams > 0 THEN (n_bigrams - n_uniq_bigrams) * 1000000 // n_bigrams
           |ELSE 0 END AS rep_e6 FROM b""".stripMargin
      }
    ),

    QueryDef(
      "t11_lexical_diversity",
      // Gopher-style lexical-diversity signals: type-token ratio and the
      // mass of the single most frequent token, per document, in exact
      // integer micro-units (the t04 rule). The per-token counts ride
      // two map-side-combinable shuffles — (doc_id, token) then doc_id —
      // so the wide text column never shuffles; the per-doc stats side
      // is a pure projection joined back on doc_id.
      (s, d) => {
        val toks = Text.tokens(lower(col("text")))
        val base = Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"))
        val top = Tables.documents(s, d)
          .select(col("doc_id"), explode(toks).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("top_tok_n"))
        base.join(top, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_tokens"), col("n_types"),
            expr("CASE WHEN n_tokens > 0 THEN (n_types * 1000000L) div n_tokens ELSE 0L END")
              .as("ttr_e6"),
            coalesce(col("top_tok_n"), lit(0L)).as("top_tok_n"),
            expr("CASE WHEN n_tokens > 0 THEN (coalesce(top_tok_n, 0L) * 1000000L) div n_tokens ELSE 0L END")
              .as("top_frac_e6"))
      },
      Some {
        val tk = toksSql("lower(text)")
        s"""WITH b AS (SELECT doc_id, CAST(len($tk) AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct($tk)) AS BIGINT) AS n_types FROM documents),
           |tc AS (SELECT doc_id, tok, count(*) AS c FROM
           |  (SELECT doc_id, unnest($tk) AS tok FROM documents) GROUP BY 1, 2),
           |top AS (SELECT doc_id, max(c) AS top_tok_n FROM tc GROUP BY 1)
           |SELECT b.doc_id, n_tokens, n_types,
           |CASE WHEN n_tokens > 0 THEN n_types * 1000000 // n_tokens ELSE 0 END AS ttr_e6,
           |CAST(coalesce(top_tok_n, 0) AS BIGINT) AS top_tok_n,
           |CASE WHEN n_tokens > 0 THEN coalesce(top_tok_n, 0) * 1000000 // n_tokens ELSE 0 END AS top_frac_e6
           |FROM b LEFT JOIN top ON b.doc_id = top.doc_id""".stripMargin
      }
    ),

    QueryDef(
      "t12_decontaminate",
      // benchmark decontamination ([[Decontaminate.ngramContamination]]):
      // held-out eval set = doc_id % 19 == 0; training docs sharing >= 10%
      // of their distinct word 5-grams with the eval set are flagged.
      // Eval grams broadcast; train side streams once (see operator doc).
      (s, d) =>
        Decontaminate.ngramContamination(
          Tables.documents(s, d), "doc_id", "text", n = 5,
          isEval = col("doc_id") % 19 === 0),
      Some {
        val sh = Text.shinglesSql(toksSql("lower(text)"), 5)
        s"""WITH g AS (SELECT doc_id, unnest($sh) AS gram FROM documents),
           |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
           |b AS (SELECT doc_id, CAST(len($sh) AS BIGINT) AS n_grams
           |  FROM documents WHERE doc_id % 19 <> 0),
           |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM g
           |  WHERE doc_id % 19 <> 0 AND gram IN (SELECT gram FROM e) GROUP BY 1)
           |SELECT b.doc_id, n_grams, coalesce(n_hit, 0) AS n_hit,
           |CASE WHEN n_grams > 0 THEN coalesce(n_hit, 0) * 1000000 // n_grams ELSE 0 END AS contam_e6,
           |CASE WHEN n_grams > 0 AND coalesce(n_hit, 0) * 10 >= n_grams THEN 1 ELSE 0 END AS contaminated
           |FROM b LEFT JOIN h ON b.doc_id = h.doc_id""".stripMargin
      }
    ),

    QueryDef(
      "t13_pii_redaction",
      // PII scrubbing ([[graft.operators.Redact.redactPii]]): the
      // synthetic corpus carries no PII, so both engines inject the
      // same deterministic contact strings per doc_id (email + phone
      // always, SSN on %3, IPv4 on %5) and then redact — the oracle
      // checks the full redacted text plus the per-category counts.
      (s, d) => {
        val id = col("doc_id")
        val pad4 = lpad((id % 10000).cast("string"), 4, "0")
        val injected = Tables.documents(s, d).select(
          id,
          concat(
            col("text"),
            lit(" reach j"), id.cast("string"), lit("@ex"), (id % 7).cast("string"), lit(".com"),
            lit(" or 312-555-"), pad4,
            when(id % 3 === 0, concat(lit(" ssn 123-45-"), pad4)).otherwise(lit("")),
            when(id % 5 === 0,
              concat(lit(" ip 10.0."), (id % 256).cast("string"), lit("."), (id % 256).cast("string")))
              .otherwise(lit(""))
          ).as("text"))
        graft.operators.Redact.redactPii(injected, "doc_id", "text")
      },
      Some(piiRedactionSql)
    ),

    QueryDef(
      "t14_boilerplate_strip",
      // boilerplate line removal ([[graft.operators.Boilerplate]]):
      // both engines wrap every doc in the same injected furniture
      // (a shared header + footer, one unique line); lines recurring
      // in > 10 docs are dropped — including any text line that the
      // corpus itself repeats often enough, same rule both sides.
      (s, d) => {
        val id = col("doc_id")
        val injected = Tables.documents(s, d).select(
          id,
          concat(lit("Subscribe now\n"), col("text"),
            lit("\nuniq-"), id.cast("string"),
            lit("\n(c) 2026 Example Corp")).as("text"))
        graft.operators.Boilerplate.strip(injected, "doc_id", "text", maxDocFreq = 10)
      },
      Some(boilerplateStripSql(10))
    ),

    QueryDef(
      "t15_chunking",
      // sliding-window chunking ([[graft.operators.Packing.chunk]]):
      // 32-token windows with 8-token overlap (step 24) — the pass that
      // turns documents into model-sized units; pure per-row explode.
      (s, d) => graft.operators.Packing.chunk(Tables.documents(s, d), "doc_id", "text", 32, 8),
      Some(s"""WITH tk AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
              |nz AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
              |c AS (SELECT doc_id,
              |  unnest(generate_series(0, CAST(floor((len(t) - 1) / 24) AS BIGINT))) AS chunk_idx, t
              |  FROM nz)
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              |CAST(len(list_slice(t, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS BIGINT) AS n_tokens,
              |array_to_string(list_slice(t, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ') AS chunk
              |FROM c""".stripMargin)
    ),

    QueryDef(
      "t20_lm_score",
      // statistical LM quality scoring (the CCNet shape, log-free so it
      // crosses the oracle gate exactly): a bigram MLE is "trained" on
      // the corpus itself — c2(w1 w2) / c1h(w1), with the history count
      // c1h = bigrams starting at w1 so every probability is <= 1 —
      // and each doc reports the mean conditional probability of its
      // bigram positions in integer micro-units. Low scores = improbable
      // token sequences = the gibberish a perplexity filter drops.
      // Shape: the position stream (one row per corpus bigram) joins
      // the two count tables on their keys — linear shuffles, AQE
      // broadcasts the counts when the vocab is small; per-doc sums are
      // map-side combined; docs with < 2 tokens report (0, 0).
      (s, d) => {
        val base = graft.core.Par.widen(
          Tables.documents(s, d)
            .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk")))
        // the position stream feeds THREE consumers (both count tables
        // + the probability join) — cut once so the corpus is
        // tokenized and bigram-exploded once, not once per consumer
        // (r21; the minhashLsh cut rationale)
        val pos = Reliability.cut(base.select(
            col("doc_id"),
            explode(Text.positionalGrams(col("tk"), 2)).as("bg"))
          .withColumn("w1", substring_index(col("bg"), " ", 1)))
        val c2 = pos.groupBy("bg").agg(count(lit(1)).as("nbg"))
        val c1 = pos.groupBy("w1").agg(count(lit(1)).as("nw1"))
        val perDoc = pos.join(c2, Seq("bg")).join(c1, Seq("w1"))
          .withColumn("p_e6", expr("(nbg * 1000000L) div nw1"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_e6")).as("sp"))
        base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            expr("CASE WHEN coalesce(n_bigrams, 0L) > 0 THEN sp div n_bigrams ELSE 0L END")
              .as("lm_score_e6"))
      },
      Some {
        val tk = toksSql("lower(text)")
        s"""WITH tk AS (SELECT doc_id, $tk AS t FROM documents),
           |pos AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS bg, t[i] AS w1
           |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM tk)),
           |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS nbg FROM pos GROUP BY 1),
           |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS nw1 FROM pos GROUP BY 1),
           |p AS (SELECT doc_id, nbg * 1000000 // nw1 AS p_e6
           |  FROM pos JOIN c2 USING (bg) JOIN c1 USING (w1)),
           |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(p_e6) AS BIGINT) AS sp
           |  FROM p GROUP BY 1)
           |SELECT b.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
           |CASE WHEN coalesce(n_bigrams, 0) > 0 THEN sp // n_bigrams ELSE 0 END AS lm_score_e6
           |FROM (SELECT doc_id FROM documents) b LEFT JOIN d ON b.doc_id = d.doc_id""".stripMargin
      }
    ),

    QueryDef(
      "t21_temperature_mix",
      // temperature-flattened language resampling at τ = 0.5
      // ([[Packing.temperatureMix]]): target share of language L
      // becomes √n_L / Σ√n — the multilingual data-mixing recipe
      // (upweight low-resource languages), with rates DERIVED from the
      // corpus's own statistics (t10's weightedSample is the hand-set
      // cousin). The keep rate √(n_min/n_L) is computed with one IEEE
      // division and one IEEE sqrt (both correctly rounded, so
      // bit-identical in any engine — the log-free trick, sqrt
      // edition); the keep decision is the same md5 per-row filter as
      // t06/t10. On the fixture corpus en is kept at ~54% while the
      // smallest language keeps everything.
      (s, d) =>
        Packing.temperatureMix(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", seed = 17),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_d FROM documents GROUP BY 1),
              |m AS (SELECT min(n_d) AS n_m FROM c),
              |r AS (SELECT lang,
              |  CAST(floor(sqrt(CAST(n_m AS DOUBLE) / n_d) * 1000000) AS BIGINT) AS rate_e6
              |  FROM c CROSS JOIN m)
              |SELECT doc_id, d.lang, rate_e6 FROM documents d JOIN r ON d.lang = r.lang
              |WHERE ${Hashing.md5LongSql("concat('mix:', CAST(doc_id AS VARCHAR))", 17)} % 1000000
              |  < rate_e6""".stripMargin)
    ),

    QueryDef(
      "t19_vocab_coverage",
      // the vocab-size decision curve: top-100 tokens by corpus
      // frequency with rank and CUMULATIVE token-mass coverage (what
      // fraction of all occurrences the top-r vocabulary covers — the
      // Zipf curve a tokenizer budget is read off). Shape: one
      // map-side-combined groupBy(token), a distributed TakeOrdered
      // top-K (never a global sort), then the rank/cumsum window runs
      // on 100 rows only; the corpus total is a bounded scalar cursor
      // (the t08 pattern). Coverage in integer micro-units (t04 rule).
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n"))).first().getLong(0)
        val top = counts.orderBy(col("n").desc, col("token").asc).limit(100)
        val w = Window.orderBy(col("n").desc, col("token").asc)
        top
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum_n",
            sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("token"), col("n"), col("rk"),
            expr(s"(cum_n * 1000000L) div ${total}L").as("cum_cov_e6"))
      },
      Some(s"""WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM
              |  (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents) GROUP BY 1),
              |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
              |top AS (SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 100)
              |SELECT token, n,
              |CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rk,
              |CAST(sum(n) OVER (ORDER BY n DESC, token ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
              |  * 1000000 // (SELECT t FROM tot) AS cum_cov_e6
              |FROM top""".stripMargin)
    ),

    QueryDef(
      "t18_dup_spans",
      // exact-substring duplicated spans ([[Dedup.duplicatedSpans]]):
      // token ranges covered by 8-gram seeds that occur >= 2 times
      // corpus-wide, merged per doc — the sub-document ranges an
      // ExactSubstr-style curation pass cuts. Seeds are 60-bit md5
      // hashes both engines compute identically.
      (s, d) => Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text", k = 8, seed = 5),
      Some {
        val tk = toksSql("lower(text)")
        val parts = (0 until 8).map(j => s"t[i+$j]").mkString(", ")
        s"""WITH tk AS (SELECT doc_id, $tk AS t FROM documents),
           |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           |  ${Hashing.md5LongSql("concat_ws(' ', " + parts + ")", 5)} AS gh
           |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i FROM tk)),
           |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
           |seeds AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
           |flag AS (SELECT doc_id, pos,
           |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS new_span
           |  FROM seeds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
           |sp AS (SELECT doc_id, pos,
           |  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_idx
           |  FROM flag)
           |SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
           |CAST(min(pos) AS BIGINT) AS start_tok, CAST(max(pos) + 8 AS BIGINT) AS end_tok,
           |CAST(max(pos) + 8 - min(pos) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_seeds
           |FROM sp GROUP BY doc_id, span_idx""".stripMargin
      }
    ),
    QueryDef(
      "t22_contaminated_spans",
      // span-level decontamination ([[Decontaminate.contaminatedSpans]]):
      // the exact token ranges of TRAIN docs covered by 5-grams
      // occurring anywhere in the held-out eval set (doc_id % 19 == 0,
      // the t12 convention) — what a surgical curation pass cuts
      // instead of dropping the whole document. Same span-merge
      // machinery as t18, seeded by eval overlap instead of corpus
      // duplication; eval grams broadcast, train side never shuffled
      // by gram.
      (s, d) => Decontaminate.contaminatedSpans(
        Tables.documents(s, d), "doc_id", "text",
        isEval = col("doc_id") % 19 === 0, k = 5, seed = 3),
      Some(s"""WITH ${contamSpanCtes(5, 3, 19)}
              |SELECT doc_id, span_idx, start_tok, end_tok, n_tokens, n_seeds
              |FROM csp_spans""".stripMargin)
    ),
    QueryDef(
      "t23_bpe_merges",
      // distributed BPE merge training ([[Tokenize.bpeMerges]]): the
      // tokenizer-construction pass — six pair merges learned over the
      // corpus's word-frequency table. The corpus is crossed once
      // (word counts); every round after runs on the vocab, with the
      // argmax pair a bounded TakeOrdered(1) driver scalar. The oracle
      // replays the identical six sequential rounds as a CTE chain —
      // identical wrap encoding, identical leftmost-non-overlapping
      // replace, identical (count desc, pair asc) tie-break.
      (s, d) => Tokenize.bpeMerges(Tables.documents(s, d), "text", rounds = 6),
      Some(bpeMergesSql(6))
    ),
    QueryDef(
      "t25_bpe_apply",
      // the SERVING half of t23 ([[Tokenize.bpeApply]]): the trained
      // merge table (a bounded driver-side artifact — what a tokenizer
      // ships) replayed over the corpus's word-frequency table to
      // produce the subword-token frequency distribution; top-30 by
      // (count desc, token asc). Same wrap encoding and replace
      // semantics as training, so the segmentation is exactly the
      // training-time one; the oracle replays the identical chain.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = Tokenize.bpeMerges(docs, "text", rounds = 6)
          .orderBy("merge_rank").select("lhs", "rhs")
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        val w = Window.orderBy(col("n").desc, col("token").asc)
        Tokenize.bpeApply(docs, "text", m)
          .orderBy(col("n").desc, col("token").asc).limit(30)
          .withColumn("rk", row_number().over(w).cast("long"))
      },
      Some(bpeApplySql(6, 30))
    ),

    QueryDef(
      "t26_cms_frequency",
      // Count-Min point-frequency estimates ([[Sketch.cmsSketch]] /
      // [[Sketch.cmsEstimate]]) — the complement of the t24
      // Misra–Gries surface: MG certifies the heavy tokens, CMS
      // answers a frequency query for ANY token from depth×width
      // bounded counters (one linear scan, mergeable by summation,
      // never underestimates). Probes: the exact top-20 tokens, so the
      // row set is deterministic and the estimate sits beside its
      // exact count. Unlike q22's engine-private HLL registers, the
      // whole counter table is md5-derived and the oracle reproduces
      // the estimates bit-for-bit.
      (s, d) => {
        // Par.widen BEFORE the explode (r21, measured 1.9 -> 1.0 s):
        // the counter build's 4x-depth token hashing ran in the single
        // scan task; widening the 1-partition doc scan is a cheap
        // round-robin of doc rows, and a no-op on a wide scan. (The
        // same widen REGRESSED q03/q04/q22/q35 and t29 - single-task
        // partial aggs that are as cheap as the extra exchange, or
        // batch subtrees whose stages already overlap - so it is
        // applied only where the clean A/B showed a win.)
        val toks = graft.core.Par.widen(Tables.documents(s, d))
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
        // materialize the bounded counter table (<= depth x width
        // rows) before serving estimates - the prepare/serve split;
        // the estimate path's dimension pre-check and broadcast then
        // read blocks instead of re-running the corpus scan
        val sk = Reliability.cut(Sketch.cmsSketch(toks, "token", depth = 4, width = 512))
        val exact = toks.groupBy("token").agg(count(lit(1)).cast("long").as("n_exact"))
          .orderBy(col("n_exact").desc, col("token").asc).limit(20)
        Sketch.cmsEstimate(sk, exact, "token", depth = 4, width = 512)
          .join(exact, Seq("token"))
          .select(col("token"), col("est"), col("n_exact"))
      },
      Some(s"""WITH toks AS (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents),
              |ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              |cnt AS (SELECT d,
              |  CAST(concat('0x', substr(md5(concat(CAST(700 + d AS VARCHAR), ':', token)), 1, 15)) AS BIGINT) % 512 AS bucket,
              |  CAST(count(*) AS BIGINT) AS n
              |  FROM toks CROSS JOIN ds GROUP BY 1, 2),
              |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM toks
              |  GROUP BY 1 ORDER BY n_exact DESC, token ASC LIMIT 20),
              |probe AS (SELECT ex.token, ds.d,
              |  CAST(concat('0x', substr(md5(concat(CAST(700 + ds.d AS VARCHAR), ':', ex.token)), 1, 15)) AS BIGINT) % 512 AS bucket,
              |  ex.n_exact FROM ex CROSS JOIN ds)
              |SELECT p.token AS token, CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est,
              |  min(p.n_exact) AS n_exact
              |FROM probe p LEFT JOIN cnt c ON c.d = p.d AND c.bucket = p.bucket
              |GROUP BY 1""".stripMargin)
    ),

    QueryDef(
      "t27_quantile_maintenance",
      // the maintained QUANTILE sketch ([[Sketch.qsSummarize]] /
      // [[Sketch.qsCombine]] / [[Sketch.qsQuantiles]]) — the member
      // that completes the stored-state fold family (KMV distinct, MG
      // heavy hitters, CMS point frequency, and now ranks): four
      // disjoint event batches are summarized and folded one at a
      // time into a bounded (group, value, w, carry) state table —
      // ONE lazy plan, no history rescan — and the p50/p90/p99
      // estimates read off the final state must satisfy the tracked
      // rank-error bound against the EXACT ranks (the q35 contract
      // shape, maintained-state edition). Emitted: exact n (the
      // summary's Σw must equal the oracle's count — weight
      // conservation is part of the hash match), the rank-interval
      // boolean, and a bound-honesty boolean (err ≤ 2%·n + ceiling
      // slack) so an inflated err column can't make rank_ok pass
      // trivially.
      (s, d) => {
        val k = 512
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value"))
        // ONE corpus pass: the (event_type, batch, salt, value) count
        // is built once ([[Sketch.qsCountedBase]]) and the per-batch
        // LOCAL prunes run in the SAME materialization as one window
        // partitioned by (batch, type, salt) — restricting a window to
        // one batch value is bit-identical to pruning that batch's
        // slice alone, so each simulated ingest batch's summary
        // derives from a slice of the (bounded, already-pruned)
        // materialized blocks. The pre-r21 form materialized the raw
        // count table and paid the local-prune window once PER batch;
        // this pays it once total, and the cut now stores ≤
        // batches × types × salts × (k+1) rows instead of the
        // corpus-distinct count table.
        val local = Reliability.cut(Sketch.qsLocalPruneBatches(
          Sketch.qsCountedBase(
            ev.withColumn("batch", pmod(col("event_id"), lit(4))),
            "value", "event_type", seed = 21, salts = 4, extraKeys = Seq("batch")),
          "batch", "event_type", k))
        // single = true: the state is bounded by construction here
        // (event types x 4 salts x (k+1) rows), so the whole fold
        // chain past the distributed local prunes plans exchange-free
        def summ(i: Int) = Sketch.qsFinalizeLocal(
          local.filter(col("batch") === i).drop("batch"), "event_type", k, single = true)
        // chainCombine = the same foldLeft plus depth insurance: a cut
        // every 8 folds, so 4 folds stay ONE uncut lazy plan (bench
        // shape unchanged) while a long simulated chain stays bounded
        val state = Sketch.chainCombine(
          (0 to 3).map(summ),
          (st, b) => Sketch.qsCombine(st, b, "event_type", k, single = true))
        val est = Sketch.qsQuantiles(state, "event_type", Seq(500000L, 900000L, 990000L))
        ev.select(col("event_type"), col("value").as("x"))
          .join(broadcast(est), Seq("event_type"))
          .groupBy(col("event_type"), col("phi_e6"))
          .agg(
            max(col("n")).as("n"),
            max(col("err")).as("err"),
            sum(when(col("x") < col("est"), 1L).otherwise(0L)).as("lt"),
            sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("le"))
          .withColumn("r", greatest(lit(1L), expr("(phi_e6 * n + 999999) div 1000000")))
          .select(col("event_type"), col("phi_e6"), col("n"),
            (col("le") >= col("r") - col("err") &&
              col("lt") + 1 <= col("r") + col("err")).as("rank_ok"),
            (col("err") <= expr("n div 50 + 64")).as("err_ok"))
      },
      Some("""WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
             |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
             |SELECT event_type, CAST(phi_e6 AS BIGINT) AS phi_e6, n,
             |TRUE AS rank_ok, TRUE AS err_ok
             |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]) AS phi_e6)""".stripMargin)
    ),

    QueryDef(
      "t30_user_quantiles",
      // the HIGH-CARDINALITY-GROUP quantile regime ([[Sketch
      // .qsSummarize]] with `single = false`) — per-user p50/p99 over
      // the events table, the shape a 100 TB deployment with millions
      // of group keys actually runs and the one t27 (whose state is a
      // handful of event types) deliberately collapses: here the
      // summary state is groups × (k+1) rows, far too big for one
      // task, so the fold stays FULLY distributed — the per-salt local
      // prunes, the pooled per-group prune and the quantile read all
      // hash-partition on the group key and the plan contains NO
      // single-partition collapse (SketchProps pins that). The
      // estimate join back to events carries |users| × |φ| rows — NOT
      // broadcast-hinted on purpose: at fixture scale AQE broadcasts
      // it anyway, at production scale it is a plain shuffle join.
      // Contract emitted per (user, φ): exact n (weight conservation),
      // the rank-interval boolean, and bound honesty
      // (err ≤ n/8 + 8 ≫ the analytic ~2n/k at k=64).
      (s, d) => {
        val k = 64
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("user_id"), col("value"))
        val state = Sketch.qsSummarize(ev, "value", "user_id",
          k, seed = 33, salts = 2, single = false)
        val est = Sketch.qsQuantiles(state, "user_id", Seq(500000L, 990000L))
        ev.select(col("user_id"), col("value").as("x"))
          .join(est, Seq("user_id"))
          .groupBy(col("user_id"), col("phi_e6"))
          .agg(
            max(col("n")).as("n"),
            max(col("err")).as("err"),
            sum(when(col("x") < col("est"), 1L).otherwise(0L)).as("lt"),
            sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("le"))
          .withColumn("r", greatest(lit(1L), expr("(phi_e6 * n + 999999) div 1000000")))
          .select(col("user_id"), col("phi_e6"), col("n"),
            (col("le") >= col("r") - col("err") &&
              col("lt") + 1 <= col("r") + col("err")).as("rank_ok"),
            (col("err") <= expr("n div 8 + 8")).as("err_ok"))
      },
      Some("""WITH e AS (SELECT user_id, value FROM events WHERE value IS NOT NULL),
             |c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
             |SELECT user_id, CAST(phi_e6 AS BIGINT) AS phi_e6, n,
             |TRUE AS rank_ok, TRUE AS err_ok
             |FROM c CROSS JOIN (SELECT unnest([500000, 990000]) AS phi_e6)""".stripMargin)
    ),

    QueryDef(
      "t29_cms_maintenance",
      // the CMS MAINTENANCE fold driven end-to-end through the gate
      // (the p03 / MG-fold shape, counter-table edition): four
      // disjoint document batches each build a [[Sketch.cmsSketch]]
      // counter table and [[Sketch.cmsCombine]] folds them one at a
      // time — one lazy plan, each input referenced once, no history
      // rescan. Because CMS counters are plain sums, the folded state
      // must equal the whole-stream build BIT-FOR-BIT, and the whole
      // counter table is md5-derived — so the oracle rebuilds it from
      // scratch in one pass and the hash match proves fold ≡ whole
      // (stronger than an estimate spot-check; t26 covers the probe
      // path).
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("token"))
        def batchSketch(i: Int) = Sketch.cmsSketch(
          toks.filter(pmod(col("doc_id"), lit(4)) === i).select("token"),
          "token", depth = 4, width = 256)
        (1 to 3).foldLeft(batchSketch(0))((st, i) => Sketch.cmsCombine(st, batchSketch(i)))
          .select(col("d").cast("long").as("d"), col("bucket"), col("n"))
      },
      Some(s"""WITH toks AS (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents),
              |ds AS (SELECT unnest([0, 1, 2, 3]) AS d)
              |SELECT CAST(d AS BIGINT) AS d,
              |  CAST(concat('0x', substr(md5(concat(CAST(700 + d AS VARCHAR), ':', token)), 1, 15)) AS BIGINT) % 256 AS bucket,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM toks CROSS JOIN ds GROUP BY 1, 2""".stripMargin)
    ),

    QueryDef(
      "t28_curation_chain",
      // the FULL production curation pipeline as ONE composed lazy
      // program — quality gate → d08 canonical pick → t22 span
      // decontamination → t21 temperature mix → t05 pack → t06 split
      // — ending in a single action (t07 composes three of these
      // stages; this runs the whole chain). Composition shape: every
      // signal (token counts, near-dup clusters, canonical metrics,
      // contamination spans) reads the corpus once and joins back by
      // doc_id; the surviving corpus is cut ONCE so the mix stage's
      // two consumers (per-lang rate derivation + the keep filter)
      // read materialized blocks instead of re-deriving the
      // gate/dedup/decontaminate chain; the pack window is
      // shard-local and the split is a pure per-row md5 — no stage
      // re-derives another stage's work. (The cluster resolution's
      // bounded per-round cuts inside dedupClusters are the engine's
      // declared iterative exception.)
      (s, d) => {
        val docs = Tables.documents(s, d)
        // (r22 three-arm in-JVM A/B: this one-derivation shape, the
        // r21 per-signal shape, and a compact-cut variant without the
        // stored token arrays all measure within ±0.2 s of each other
        // at sf0.1 — the decision is made on the 100 TB I/O bill,
        // where this shape reads the corpus text once instead of 4–5
        // times.)
        //
        // ONE corpus tokenization for the whole chain (r22, guide
        // §2.4/§6): the five signals (quality gate nt, near-dup
        // shingles, canonical-pick metrics, decontamination grams, and
        // the mix/pack/split base) each re-tokenized the corpus text
        // from the parquet scan — five full text passes in the r21
        // plan. The cut materializes (doc_id, lang, tkl, sh) once:
        // tkl = tokens(lower(text)) serves the gate count, the
        // quality metrics and the positional eval grams; sh =
        // shingles(tokens(text), 3) serves the minhash path — the
        // exact per-signal expressions, computed once. Tokenize before
        // the widen barrier, shingle after (the shingleTable rule).
        val tokd = Reliability.cut(
          Par.widen(docs.select(col("doc_id"), col("lang"),
              Text.tokens(col("text")).as("tk"),
              Text.tokens(lower(col("text"))).as("tkl")))
            .select(col("doc_id"), col("lang"), col("tkl"),
              Text.shingles(col("tk"), 3).as("sh")))
        // near-dup canonical pick over the full corpus (what is
        // duplicated does not depend on the quality gate); empty-
        // shingle exclusion: size(sh) > 0 ⟺ size(tk) >= 3
        val lowToks = col("tkl")
        val nStop = size(filter(lowToks, t => t.isInCollection(Text.stopwords)))
        val dropIds = Dedup.canonicalDocsFromMetrics(
            tokd.select(
              col("doc_id").cast("long").as("doc_id"),
              Text.qualityBucket(size(lowToks), nStop).cast("long").as("quality"),
              size(lowToks).cast("long").as("n_tokens")),
            Dedup.dedupClusters(Dedup.minhashLshFromShingles(
              tokd.filter(size(col("sh")) > 0).select(col("doc_id").as("id"), col("sh")),
              0.5)))
          .filter(!col("keep")).select("doc_id")
        // contaminated token mass per train doc (eval = doc_id % 19)
        val contam = Decontaminate.contaminatedSpansFromTokens(
            tokd.select(col("doc_id"),
              coalesce(col("doc_id") % 19 === 0, lit(false)).as("is_eval"),
              col("tkl").as("tk")),
            "doc_id", k = 5, seed = 3)
          .groupBy("doc_id").agg(sum(col("n_tokens")).as("n_contam"))
        val base = Reliability.cut(tokd
          .select(col("doc_id"), col("lang"),
            size(col("tkl")).cast("long").as("nt"))
          .filter(col("nt") >= 5 && col("doc_id") % 19 =!= 0)
          .join(dropIds, Seq("doc_id"), "left_anti")
          .join(contam, Seq("doc_id"), "left")
          .withColumn("nt_clean", col("nt") - coalesce(col("n_contam"), lit(0L)))
          .select(col("doc_id"), col("lang"), col("nt_clean")))
        val mixed = Packing.temperatureMix(base, "doc_id", "lang", seed = 17)
        val packed = Packing.packByBudget(mixed, "doc_id", col("nt_clean"),
          budget = 2048, shards = 8)
        Packing.hashSplit(packed, "doc_id", seed = 7,
            pcts = Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .groupBy(col("split"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            countDistinct(col("shard") * 1000000L + col("bin")).as("n_bins"))
      },
      Some {
        val tk = toksSql("lower(text)")
        s"""WITH drops AS (SELECT doc_id FROM (${canonicalDocsSql(0.5)}) WHERE NOT keep),
           |${contamSpanCtes(5, 3, 19)},
           |contam AS (SELECT doc_id, SUM(n_tokens) AS n_contam FROM csp_spans GROUP BY 1),
           |gated AS (SELECT doc_id, lang, CAST(len($tk) AS BIGINT) AS nt FROM documents
           |  WHERE doc_id % 19 != 0),
           |corpus AS (SELECT g.doc_id, g.lang, g.nt - coalesce(c.n_contam, 0) AS nt_clean
           |  FROM gated g LEFT JOIN contam c USING (doc_id)
           |  WHERE g.nt >= 5 AND g.doc_id NOT IN (SELECT doc_id FROM drops)),
           |lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_d FROM corpus GROUP BY 1),
           |lm AS (SELECT min(n_d) AS n_m FROM lc),
           |rates AS (SELECT lang,
           |  CAST(floor(sqrt(CAST(n_m AS DOUBLE) / n_d) * 1000000) AS BIGINT) AS rate_e6
           |  FROM lc CROSS JOIN lm),
           |mixed AS (SELECT c.doc_id, c.lang, c.nt_clean FROM corpus c JOIN rates r
           |  ON c.lang = r.lang
           |  WHERE ${Hashing.md5LongSql("concat('mix:', CAST(c.doc_id AS VARCHAR))", 17)} % 1000000
           |    < r.rate_e6),
           |packed AS (SELECT doc_id, lang, nt_clean, doc_id % 8 AS shard,
           |  (sum(nt_clean) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - nt_clean) // 2048 AS bin
           |  FROM mixed),
           |labeled AS (SELECT *, CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
           |    ELSE 'test' END AS split
           |  FROM (SELECT *,
           |    ${Hashing.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))", 7)} % 100 AS h
           |    FROM packed))
           |SELECT split, lang, count(*) AS n_docs, CAST(SUM(nt_clean) AS BIGINT) AS n_tokens,
           |  CAST(count(DISTINCT shard * 1000000 + bin) AS BIGINT) AS n_bins
           |FROM labeled GROUP BY 1, 2""".stripMargin
      }
    ),

    QueryDef(
      "t24_heavy_hitters",
      // the one-pass dominant-token sketch ([[graft.functions.FreqSketch]],
      // Misra–Gries with mergeable-summaries reduction): `capacity`
      // counters of state per mapper where exact t19 shuffles one row
      // per distinct token. MG counter values depend on merge order
      // (which Spark does not fix), so the query emits the CONTRACT —
      // booleans the guarantee makes true under EVERY order: each of
      // the exact top-20 tokens (a) is present in the sketch whenever
      // its exact count clears the n/(capacity+1) admission bound, and
      // (b) any held estimate underestimates by at most that bound.
      // The oracle pins the exact top-20 and TRUE/TRUE; the exact side
      // is the small-SF validation harness, the sketch is the scale
      // path.
      (s, d) => {
        val cap = 64
        val toks = Tables.documents(s, d)
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
        val items = Sketch.mgSketch(toks, "token", cap)
        val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
        // coalesce: sum() is NULL on an empty corpus — n=0 then gives
        // bound=0 and an empty top-20, not an NPE
        val n = exact.agg(coalesce(sum(col("exact_n")), lit(0L))).first().getLong(0)
        val bound = n / (cap + 1) // floor; integer counts make it exact (see spec)
        exact.orderBy(col("exact_n").desc, col("token").asc).limit(20)
          .join(items, Seq("token"), "left")
          .select(col("token"), col("exact_n"),
            (col("exact_n") <= lit(bound) || col("est").isNotNull).as("presence_ok"),
            (col("est").isNull ||
              (col("est") <= col("exact_n") && col("est") >= col("exact_n") - lit(bound)))
              .as("bound_ok"))
      },
      Some(s"""WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM
              |  (SELECT unnest(${toksSql("lower(text)")}) AS token FROM documents) GROUP BY 1)
              |SELECT token, exact_n, TRUE AS presence_ok, TRUE AS bound_ok
              |FROM c ORDER BY exact_n DESC, token ASC LIMIT 20""".stripMargin)
    ),

    QueryDef(
      "t17_stratified_cap",
      // per-domain quota capping ([[Packing.stratifiedCap]]): keep the
      // 10 docs with the smallest seeded md5(id) per source — an exact
      // deterministic K-per-stratum sample. The operator's threshold
      // prefilter keeps the rank window O(strata x quota) instead of
      // sorting the corpus; the oracle ranks everything (semantics are
      // identical, the threshold is an optimization).
      (s, d) =>
        Packing.stratifiedCap(
          Tables.documents(s, d).select(col("doc_id"), col("source"), col("lang")),
          "doc_id", "source", seed = 7, quota = 10),
      Some(s"""WITH t AS (SELECT doc_id, source, lang,
              |${Hashing.md5LongSql("concat('cap:', CAST(doc_id AS VARCHAR))", 7)} AS h FROM documents)
              |SELECT doc_id, source, lang,
              |CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS samp_rank
              |FROM t QUALIFY row_number() OVER (PARTITION BY source ORDER BY h, doc_id) <= 10""".stripMargin)
    ),

    QueryDef(
      "t16_top_ngram_mass",
      // the remaining Gopher repetition signal (t09 covers duplicate
      // bigram FRACTION, t11 the top TOKEN): the character mass of the
      // single most repeated word n-gram, n in {2,3,4}. Computed by the
      // codegen'd per-row [[Text.topGram]] counter — zero shuffle; the
      // explode→groupBy form would shuffle one (doc_id, gram) pair per
      // corpus token. Ratios in exact integer micro-units (the t04
      // rule); denominator is the char length of the space-joined
      // token text, identical both engines.
      (s, d) => {
        // widen before the per-row counting: a single-split scan would
        // otherwise pin all three gram passes on one task (no-op at
        // scale where the scan has real splits)
        val tkDf = graft.core.Par.widen(
            Tables.documents(s, d)
              .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk")))
          .select(
            col("doc_id"),
            length(concat_ws(" ", col("tk"))).cast("long").as("n_chars_tok"),
            Text.topGram(col("tk"), 2).as("t2"),
            Text.topGram(col("tk"), 3).as("t3"),
            Text.topGram(col("tk"), 4).as("t4"))
        def fracE6(t: String): Column =
          expr(s"CASE WHEN n_chars_tok > 0 THEN ($t.cnt * length($t.gram) * 1000000L) div n_chars_tok ELSE 0L END")
        tkDf.select(
          col("doc_id"), col("n_chars_tok"),
          col("t2.gram").as("top2_gram"), col("t2.cnt").as("top2_n"), fracE6("t2").as("top2_frac_e6"),
          col("t3.gram").as("top3_gram"), col("t3.cnt").as("top3_n"), fracE6("t3").as("top3_frac_e6"),
          col("t4.gram").as("top4_gram"), col("t4.cnt").as("top4_n"), fracE6("t4").as("top4_frac_e6"))
      },
      Some {
        val tk = toksSql("lower(text)")
        def grams(n: Int): String = {
          val parts = (0 until n).map(k => s"t[i+$k]").mkString(", ")
          s"""SELECT doc_id, concat_ws(' ', $parts) AS gram
             |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i FROM tk)""".stripMargin
        }
        def top(n: Int): String =
          s"""c$n AS (SELECT doc_id, gram, c FROM
             |  (SELECT doc_id, gram, count(*) AS c FROM (${grams(n)}) GROUP BY 1, 2)
             |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) = 1)""".stripMargin
        def cols(n: Int): String =
          s"""coalesce(c$n.gram, '') AS top${n}_gram, CAST(coalesce(c$n.c, 0) AS BIGINT) AS top${n}_n,
             |CASE WHEN b.n_chars_tok > 0
             |  THEN coalesce(c$n.c, 0) * len(coalesce(c$n.gram, '')) * 1000000 // b.n_chars_tok
             |  ELSE 0 END AS top${n}_frac_e6""".stripMargin
        s"""WITH tk AS (SELECT doc_id, $tk AS t FROM documents),
           |b AS (SELECT doc_id, CAST(len(array_to_string(t, ' ')) AS BIGINT) AS n_chars_tok FROM tk),
           |${top(2)},
           |${top(3)},
           |${top(4)}
           |SELECT b.doc_id, b.n_chars_tok,
           |${cols(2)},
           |${cols(3)},
           |${cols(4)}
           |FROM b
           |LEFT JOIN c2 ON b.doc_id = c2.doc_id
           |LEFT JOIN c3 ON b.doc_id = c3.doc_id
           |LEFT JOIN c4 ON b.doc_id = c4.doc_id""".stripMargin
      }
    ),

    QueryDef(
      "t07_corpus_curation",
      // the composed curation pipeline a training corpus actually runs:
      // quality-gate (tokens >= 5, the t02 bucket-1 floor), then drop
      // every non-canonical member of a near-dup cluster (d01 pairs →
      // d05 components), then per-language corpus stats. One anti-join
      // against the (small) duplicate id set — the corpus streams once.
      (s, d) => {
        val docs = Tables.documents(s, d)
        // per-signal tokenization KEPT (r22, measured): sharing one
        // (doc_id, lang, nt, sh) cut between the gate count and the
        // minhash shingles was a consistent ~10% regression on the
        // rotated in-JVM A/B (2.28 vs 2.06 s median, twice) — the
        // shared cut moves a second tokenize pass onto the eager
        // critical path, while this shape's nt scan is pipelined into
        // the final anti-join job at zero extra jobs. The d08/t28
        // chains, whose shared cut replaces 2–4 extra corpus scans,
        // keep the share; here it replaces only one.
        val base = docs
          .select(col("doc_id"), col("lang"), size(Text.tokens(lower(col("text")))).cast("long").as("nt"))
          .filter(col("nt") >= 5)
        val dupDrop = Dedup
          .dedupClusters(Dedup.minhashLsh(docs, "doc_id", "text", 0.5))
          .filter(col("doc_id") =!= col("canonical_id"))
          .select("doc_id")
        base
          .join(dupDrop, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("n_tokens"))
      },
      Some(s"""WITH drops AS (SELECT doc_id FROM (${dedupClustersSql(0.5)})
              |  WHERE doc_id != canonical_id),
              |t AS (SELECT doc_id, lang, CAST(len(${toksSql("lower(text)")}) AS BIGINT) AS nt
              |  FROM documents)
              |SELECT lang, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
              |FROM t WHERE nt >= 5 AND doc_id NOT IN (SELECT doc_id FROM drops)
              |GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "t05_sequence_pack",
      (s, d) =>
        Packing.packByBudget(
          Tables.documents(s, d)
            .select(col("doc_id"), size(Text.tokens(lower(col("text")))).as("nt")),
          "doc_id",
          col("nt"),
          budget = 2048,
          shards = 8
        ).select(col("doc_id"), col("shard"), col("bin"), col("n_tokens")),
      Some(s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
              |CAST(len(${toksSql("lower(text)")}) AS BIGINT) AS n_tokens FROM documents),
              |c AS (SELECT doc_id, shard, n_tokens,
              |sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM t)
              |SELECT doc_id, shard, CAST(cum - n_tokens AS BIGINT) // 2048 AS bin, n_tokens
              |FROM c""".stripMargin)
    ),
    QueryDef(
      "t06_hash_split",
      (s, d) =>
        Packing.hashSplit(
          Tables.documents(s, d)
            .select(col("doc_id"), size(Text.tokens(lower(col("text")))).cast("long").as("nt")),
          "doc_id",
          seed = 7,
          pcts = Seq("train" -> 80, "val" -> 10, "test" -> 10)
        ).groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("n_tokens")),
      Some(s"""WITH t AS (SELECT doc_id,
              |${Hashing.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))", 7)} % 100 AS h,
              |CAST(len(${toksSql("lower(text)")}) AS BIGINT) AS nt FROM documents)
              |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
              |count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM t GROUP BY 1""".stripMargin)
    ),

    QueryDef(
      "t10_domain_mix",
      // training-data mixing: re-weight the corpus to a target source
      // distribution with a deterministic md5 keep-decision per doc
      // ([[Packing.weightedSample]] — a pure filter, no shuffle until
      // the final stats agg). src0 is upsampled-in-full, src1 halved,
      // everything else quartered.
      (s, d) =>
        Packing.weightedSample(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), size(Text.tokens(lower(col("text")))).cast("long").as("nt")),
          "doc_id", "source", seed = 11,
          ratesE6 = Map("src0" -> 1000000L, "src1" -> 500000L),
          defaultE6 = 250000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("n_tokens")),
      Some(s"""WITH t AS (SELECT doc_id, source,
              |${Hashing.md5LongSql("concat('mix:', CAST(doc_id AS VARCHAR))", 11)} % 1000000 AS h,
              |CAST(len(${toksSql("lower(text)")}) AS BIGINT) AS nt FROM documents)
              |SELECT source, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM t
              |WHERE h < CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
              |ELSE 250000 END
              |GROUP BY 1""".stripMargin)
    ),

    QueryDef(
      "t08_tfidf_topk",
      // ranked retrieval with an EXACT integer relevance score:
      // score_e6 = (tf * n_docs * 1e6) div df — the tf×idf ordering
      // without the cross-engine log(); terms with df >= 10, top 3 docs
      // per term by (score desc, doc_id asc). Shuffle shape: one
      // groupBy(term, doc) with map-side combine, one groupBy(term),
      // one broadcast-size join back on term, one per-term window.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nDocs = docs.count() // bounded scalar cursor (A1-style)
        // tf feeds two consumers (the df count and the score join) —
        // cut once so the tokenize+explode+count corpus pass runs
        // once, not twice (r21; the minhashLsh cut rationale)
        val tf = Reliability.cut(docs
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df")).filter(col("df") >= 10)
        val w = Window.partitionBy(col("term")).orderBy(col("score_e6").desc, col("doc_id").asc)
        tf.join(dfreq, "term")
          .withColumn("score_e6", expr(s"(tf * ${nDocs}L * 1000000L) div df"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("term"), col("doc_id"), col("tf"), col("df"), col("score_e6"), col("rk"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS term FROM documents),
              |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
              |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) >= 10),
              |scored AS (SELECT tf.term, doc_id, tf, df,
              |  CAST(tf AS BIGINT) * (SELECT count(*) FROM documents) * 1000000 // df AS score_e6
              |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
              |SELECT term, doc_id, tf, df, score_e6, rk FROM (
              |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY score_e6 DESC, doc_id ASC) AS rk
              |  FROM scored)
              |WHERE rk <= 3""".stripMargin)
    ),

    // ============================ multimodal ==============================
    QueryDef(
      "m01_media_decode",
      (s, d) =>
        Multimodal.decodeMetadata(Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text")),
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |octet_length(encode(text)) AS byte_len,
             |CASE octet_length(encode(text)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
             |CAST(64 + octet_length(encode(text)) % 1856 AS INTEGER) AS width,
             |CAST(64 + (octet_length(encode(text)) * 7) % 1016 AS INTEGER) AS height,
             |CAST(1 + octet_length(encode(text)) % 30 AS INTEGER) AS n_frames,
             |octet_length(encode(text)) * 40 % 600000 AS duration_ms
             |FROM documents""".stripMargin)
    ),
    QueryDef(
      "m02_frame_sample",
      (s, d) =>
        Multimodal.sampleFrames(
          Multimodal.decodeMetadata(Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text")),
          5
        ).withColumn("frame_idx", col("frame_idx").cast("long")),
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |unnest(generate_series(0, CAST(octet_length(encode(text)) % 30 AS INTEGER), 5)) AS frame_idx
             |FROM documents""".stripMargin)
    ),

    QueryDef(
      "m03_resize_plan",
      (s, d) =>
        Multimodal.resizePlan(
          Multimodal.decodeMetadata(Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text")),
          224
        ),
      Some("""WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
             |  CAST(64 + octet_length(encode(text)) % 1856 AS INTEGER) AS width,
             |  CAST(64 + (octet_length(encode(text)) * 7) % 1016 AS INTEGER) AS height
             |  FROM documents)
             |SELECT media_id, width, height,
             |CAST(width AS BIGINT) * 224 // greatest(width, height) AS resize_w,
             |CAST(height AS BIGINT) * 224 // greatest(width, height) AS resize_h
             |FROM m""".stripMargin)
    ),

    QueryDef(
      "m04_real_decode",
      // The REAL header parsers under the oracle gate: deterministic
      // PNG/JPEG/GIF/WebP/WAV/MP4 payloads built bytes-up from
      // index-derived params (graft.multimodal.MediaFixtures), decoded
      // by the production ImageHeader/WavHeader/Mp4Header walks; the
      // oracle pins the SAME params as a VALUES literal — a round-trip
      // check that hash-mismatches if builders or parsers drift.
      // (m01-m03 exercise the plumbing + fallback over text payloads;
      // this row is what makes "decode is real" oracle-checked.)
      (s, _) => Multimodal.decodeMetadata(graft.multimodal.MediaFixtures.table(s)),
      Some(graft.multimodal.MediaFixtures.oracleSql)
    ),

    // ===================== streaming batch twins ==========================
    QueryDef(
      "st01_tumbling",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total")),
      Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
              |count(*) AS n, ${dsumSql("value", 6)} AS total
              |FROM events GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "st02_sliding",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n")),
      Some("""SELECT window_start, event_type, count(*) AS n FROM (
             |SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
             |               date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR]) AS window_start,
             |event_type FROM events) GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "st03_session",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("total"))
          .select(
            col("session_window.start").as("session_start"),
            col("user_id"), col("n_events"), col("total")
          ),
      Some(s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
              |m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              |  >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e),
              |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
              |  ROWS UNBOUNDED PRECEDING) AS grp FROM m)
              |SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
              |${dsumSql("value", 6)} AS total FROM g GROUP BY user_id, grp""".stripMargin)
    ),

    QueryDef(
      "st04_interval_join",
      // batch twin of the stream-stream interval join: even event_ids
      // play impressions, odd play clicks; a click attributes to every
      // impression of the same user in the preceding hour
      (s, d) => {
        val e = Tables.events(s, d)
        graft.streaming.EventStream.intervalJoin(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          withinMinutes = 60)
      },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |i AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts FROM e WHERE event_id % 2 = 0),
             |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts FROM e WHERE event_id % 2 = 1)
             |SELECT i.user_id, imp_id, click_id,
             |epoch_us(click_ts) - epoch_us(imp_ts) AS delta_us
             |FROM i JOIN c ON i.user_id = c.c_user
             |AND click_ts > imp_ts AND click_ts <= imp_ts + INTERVAL 60 MINUTE""".stripMargin)
    ),
    QueryDef(
      "st05_stream_neardup",
      // the streaming near-dup path ([[graft.streaming.NearDupStream]])
      // run in batch mode — the SAME flatMapGroupsWithState code that
      // serves a stream executes here with empty initial state, and
      // because pairs are undirected and chunk-minimal-emitted its
      // result set must equal d02 exactly; oracle-checking it here
      // gates the streaming logic against DuckDB
      (s, d) =>
        graft.streaming.NearDupStream
          .simhashDupPairs(Tables.documents(s, d), "doc_id", "text", 3)
          .toDF(),
      Some(simhashPairsSql(3))
    ),
    QueryDef(
      "st06_stream_neardup_ttl",
      // the BOUNDED-STATE streaming near-dup path (event-time TTL,
      // [[graft.streaming.NearDupStream.simhashDupPairsWithin]]) run in
      // batch mode, where eviction is inert and the contract reduces to
      // its deterministic core: the d02/st05 pair set RESTRICTED to
      // pairs whose event times lie within the horizon (the per-pair
      // check, exact in batch and stream alike). Event time is doc_id
      // seconds and the 200 s horizon splits the sf0.01 pair set
      // (14 in-horizon of 25), so this row exercises BOTH sides of the
      // restriction. The streaming-only parts (watermark eviction,
      // timeout removal, state plateau, lateness) are
      // NearDupStreamSpec-pinned.
      (s, d) =>
        graft.streaming.NearDupStream
          .simhashDupPairsWithin(
            Tables.documents(s, d)
              .withColumn("ts", expr("timestamp_micros(doc_id * 1000000)")),
            "doc_id", "text", "ts", 3, horizonMs = 200000L)
          .toDF(),
      Some(simhashPairsSql(3, maxIdGap = Some(200L)))
    ),
    QueryDef(
      "st07_stream_heavy_hitters",
      // per-hour dominant users via the mergeable MG sketch keyed by
      // tumbling window ([[graft.streaming.EventStream
      // .windowHeavyHitterSketch]]): ONE (window, sketch) state row per
      // hour regardless of user cardinality — the bounded-state form of
      // per-window top-k. The same aggregation runs as a real streaming
      // query (spec-driven, state-store-backed); this batch execution
      // is its oracle gate, in the t24 contract form: exact top-5
      // anchors per window + the two merge-order-invariant guarantee
      // booleans.
      (s, d) => graft.streaming.EventStream
        .windowHeavyHitterReport(Tables.events(s, d), cap = 12, topN = 5),
      Some("""WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, user_id FROM events),
             |c AS (SELECT window_start, user_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY n DESC, user_id ASC) AS rk FROM c)
             |SELECT window_start, user_id, n, TRUE AS presence_ok, TRUE AS bound_ok
             |FROM r WHERE rk <= 5""".stripMargin)
    ),

    QueryDef(
      "st08_stream_quantiles",
      // per-hour quantiles via Spark's mergeable GK sketch keyed by
      // tumbling window ([[graft.streaming.EventStream
      // .windowQuantileSketch]]) — the STREAMING member of the
      // maintained-rank family (q35 in-query, t27 stored fold, this;
      // st07 is the heavy-hitter sibling). ONE (window, GK-buffer)
      // state row per hour regardless of value cardinality. The same
      // aggregation runs as a real streaming query (spec-driven,
      // state-store-backed); this batch execution is its oracle gate
      // in the q35 contract form: per (window, φ) the estimate's
      // exact rank interval must intersect φ·n ± (n/accuracy + 1).
      (s, d) => graft.streaming.EventStream.windowQuantileReport(
        Tables.events(s, d), Seq(500000L, 900000L, 990000L), accuracy = 1000),
      Some("""WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, value
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
             |SELECT window_start, CAST(phi_e6 AS BIGINT) AS phi_e6, n, TRUE AS rank_ok
             |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]) AS phi_e6)""".stripMargin)
    ),

    QueryDef(
      "st09_stream_distinct",
      // per-hour distinct users via the mergeable KMV aggregate keyed
      // by tumbling window ([[graft.streaming.EventStream
      // .windowDistinctSketch]]) — the DISTINCT member of the windowed
      // sketch family (st07 heavy hitters, st08 quantiles, this) and
      // the streaming member of the distinct family (q22 HLL
      // in-query, q34 KMV in-query, d10 stored fold). ONE (window,
      // ≤ k longs) state row per hour regardless of user cardinality.
      // The same aggregation runs as a real streaming query
      // (spec-driven, state-store-backed); this batch execution is
      // its oracle gate — and unlike st07/st08, as a FULL HASH MATCH:
      // the KMV state is deterministic in the member set (no
      // merge-order dependence), so the oracle recomputes the exact
      // estimates from the same md5 minima instead of pinning
      // contract booleans.
      (s, d) => graft.streaming.EventStream.windowDistinctReport(
        Tables.events(s, d), k = 16, seed = 23),
      Some(s"""WITH pairs AS (SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, user_id
              |  FROM events WHERE user_id IS NOT NULL),
              |hs AS (SELECT DISTINCT window_start,
              |  ${Hashing.md5LongSql("concat('cap:', CAST(user_id AS VARCHAR))", 23)} AS h FROM pairs),
              |capped AS (SELECT * FROM hs
              |  QUALIFY row_number() OVER (PARTITION BY window_start ORDER BY h) <= 16),
              |sk AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
              |  FROM capped GROUP BY 1)
              |SELECT window_start, n_kept,
              |CASE WHEN n_kept < 16 THEN n_kept
              |ELSE CAST(floor(15 * 1152921504606846976.0 / h_k) AS BIGINT) END AS est_distinct
              |FROM sk""".stripMargin)
    ),

    // ==================== SQL/temp-view layer (J4) ========================
    QueryDef(
      "v01_view_chain",
      (s, d) => {
        Views.registerTables(s, d)
        Views.runModelChain(s, Seq(
          "m1_customer_orders" ->
            """SELECT o_custkey AS custkey, count(*) AS n_orders,
              |CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
              |FROM orders GROUP BY o_custkey""".stripMargin,
          "m2_big_spenders" ->
            """SELECT custkey, n_orders, spend FROM m1_customer_orders
              |WHERE n_orders >= 12""".stripMargin
        ))
      },
      Some("""WITH m1_customer_orders AS (
             |  SELECT o_custkey AS custkey, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
             |  FROM orders GROUP BY o_custkey)
             |SELECT custkey, n_orders, spend FROM m1_customer_orders
             |WHERE n_orders >= 12""".stripMargin)
    ),
    QueryDef(
      "v02_sql_agg",
      (s, d) => {
        Views.registerTables(s, d)
        s.sql(
          """SELECT nation, priority, n_orders, rnk FROM (
            |  SELECT n_name AS nation, o_orderpriority AS priority, count(*) AS n_orders,
            |  CAST(rank() OVER (PARTITION BY n_name ORDER BY count(*) DESC, o_orderpriority) AS BIGINT) AS rnk
            |  FROM orders JOIN customer ON o_custkey = c_custkey
            |  JOIN nation ON c_nationkey = n_nationkey
            |  GROUP BY n_name, o_orderpriority)
            |WHERE rnk <= 2""".stripMargin)
      },
      Some("""SELECT nation, priority, n_orders, rnk FROM (
             |  SELECT n_name AS nation, o_orderpriority AS priority, count(*) AS n_orders,
             |  CAST(rank() OVER (PARTITION BY n_name ORDER BY count(*) DESC, o_orderpriority) AS BIGINT) AS rnk
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY n_name, o_orderpriority)
             |WHERE rnk <= 2""".stripMargin)
    ),

    QueryDef(
      "v03_sql_functions",
      (s, d) => {
        // the custom codegen'd expressions through the SQL surface:
        // registered via GraftExtensions (injectFunction twin)
        graft.plans.GraftExtensions.install(s)
        Views.registerTables(s, d)
        s.sql(
          """SELECT vec_id,
            |round(graft_dot(embedding, embedding), 5) AS self_dot,
            |graft_srp_bucket(embedding, 16, 64) AS bucket
            |FROM embeddings""".stripMargin)
      },
      Some {
        val signs: Seq[Seq[Int]] = (0 until 16).map { p =>
          (0 until 64).map { dd =>
            val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$p:$dd".getBytes("UTF-8"))
            if ((md5.last & 1) == 1) 1 else -1
          }
        }
        val bucketTerms = (0 until 16).map { p =>
          val lst = signs(p).mkString("[", ", ", "]")
          s"""(CASE WHEN list_aggregate(list_transform(generate_series(1, 64),
             |  i -> CAST(embedding[i] AS DOUBLE) * CAST(($lst)[i] AS DOUBLE)), 'sum') > 0
             |  THEN ${1L << p} ELSE 0 END)""".stripMargin
        }.mkString(" + ")
        s"""SELECT vec_id, round(${Vectors.dotSql("embedding", "embedding")}, 5) AS self_dot,
           |$bucketTerms AS bucket FROM embeddings""".stripMargin
      }
    ),

    QueryDef(
      "v04_sql_sketch_agg",
      (s, d) => {
        // the fused sketch aggregate through the SQL surface: simhash
        // per doc computed entirely in spark.sql via graft_simhash_sig
        graft.plans.GraftExtensions.install(s)
        Views.registerTables(s, d)
        s.sql(
          """SELECT doc_id, graft_simhash_sig(
            |  CAST(conv(substring(md5(concat('11:', t)), 1, 15), 16, 10) AS BIGINT)) AS simhash
            |FROM (SELECT doc_id, explode(filter(split(text, ' '), x -> x != '')) AS t FROM documents)
            |GROUP BY doc_id""".stripMargin)
      },
      Some(simhashTableSql)
    ),

    // ================== pipeline operators (oracle-checked) ===============
    QueryDef(
      "p03_incremental_rollup",
      // incremental aggregate maintenance driven end-to-end through the
      // gate: three disjoint batches folded one at a time into a stored
      // state table ([[IncrementalAgg]] — each fold shuffles only
      // |batch keys| + |state| rows), and the resulting state must equal
      // the oracle's single full-history aggregate. Fresh temp dir per
      // invocation so bench re-runs don't double-count.
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-incagg").toString + "/state"
        val spec = IncrementalAgg.Spec(
          keys = Seq("event_type"), sums = Seq("value"), mins = Seq("value"), maxs = Seq("value"))
        val e = Tables.events(s, d)
        (0 until 3).foreach { i =>
          IncrementalAgg.update(s, dir, e.filter(col("event_id") % 3 === i), spec)
        }
        IncrementalAgg.read(s, dir).select(
          col("event_type"), col("n_rows"),
          col("sum_value").cast("double").as("sum_value"),
          col("min_value"), col("max_value"))
      },
      Some("""SELECT event_type, count(*) AS n_rows,
             |CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
             |min(value) AS min_value, max(value) AS max_value
             |FROM events GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "p01_upsert_merge",
      (s, d) => {
        val e = Tables.events(s, d)
        val target = e.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
        val updates = e.filter(col("event_id") % 3 === 0)
          .select(
            col("event_id"), col("user_id"), col("event_type"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
            (col("value") * 2).as("value")
          )
        Upsert.merge(target, updates, Seq("event_id"), "ts")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value, 0 AS src
             |  FROM events WHERE event_id % 2 = 0),
             |u AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS ts,
             |  value * 2 AS value, 1 AS src FROM events WHERE event_id % 3 = 0),
             |m AS (SELECT * FROM t UNION ALL SELECT * FROM u)
             |SELECT event_id, user_id, event_type, value FROM
             |(SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, src DESC) AS rn FROM m)
             |WHERE rn = 1""".stripMargin)
    ),
    QueryDef(
      "p02_date_dim",
      (s, _) => DateDim.build(s, "1995-01-01", "1995-12-31")
        .withColumn("date", col("date").cast("string")),
      Some {
        s"""SELECT CAST(d AS VARCHAR) AS "date", CAST(day(d) AS INTEGER) AS day, CAST(month(d) AS INTEGER) AS month,
           |CAST(year(d) AS INTEGER) AS year, CAST(dayofweek(d) + 1 AS INTEGER) AS day_of_week,
           |monthname(d) AS month_name, dayname(d) AS day_of_week_name,
           |${DateDim.holidayCaseSql()} AS holiday_name
           |FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-12-31',
           |INTERVAL 1 DAY)) AS DATE) AS d)""".stripMargin
      }
    ),
    QueryDef(
      "j01_date_enrichment",
      // J3 — the reference's date dim exists to enrich the fact table for
      // dashboards (`create_date.sql:1-10`, readme.md:21,41-42). Broadcast
      // the tiny dim (never shuffled); the fact side aggregates map-side.
      (s, d) =>
        Tables.events(s, d)
          .join(
            broadcast(DateDim.build(s, "2024-01-01", "2024-01-31")),
            to_date(col("ts")) === col("date")
          )
          .groupBy(
            col("day_of_week_name"),
            coalesce(col("holiday_name"), lit("none")).as("holiday")
          )
          .agg(
            count(lit(1)).as("n_events"),
            dsum(col("value"), 6).as("sum_value"),
            countDistinct(col("user_id")).as("n_users")
          ),
      Some {
        s"""WITH dd AS (SELECT CAST(d AS DATE) AS date, dayname(d) AS day_of_week_name,
           |${DateDim.holidayCaseSql()} AS holiday_name
           |FROM (SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
           |INTERVAL 1 DAY)) AS DATE) AS d))
           |SELECT dd.day_of_week_name, coalesce(dd.holiday_name, 'none') AS holiday,
           |count(*) AS n_events, ${dsumSql("value", 6)} AS sum_value,
           |count(DISTINCT user_id) AS n_users
           |FROM events e JOIN dd ON CAST(e.ts AS DATE) = dd.date
           |GROUP BY 1, 2""".stripMargin
      }
    ),
    QueryDef(
      "j02_asof_join",
      // Point-in-time enrichment: each purchase picks up the latest view
      // by the same user at or before it ([[AsOf.joinAsOf]] — one
      // union + window pass, a single Exchange+Sort over |L|+|R| rows;
      // the oracle is DuckDB's native ASOF LEFT JOIN, a genuinely
      // independent implementation of the same semantics). The view side
      // is collapsed to max(event_id) per (user, ts) so ties are
      // deterministic in both engines.
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"), col("event_id"))
          .groupBy(col("user_id"), col("view_ts"))
          .agg(max(col("event_id")).as("last_view_id"))
        AsOf.joinAsOf(purchases, views, Seq("user_id"), "ts", "view_ts")
          .select(
            col("event_id"), col("user_id"), col("last_view_id"),
            (col("ts").cast("long") - col("view_ts").cast("long")).as("gap_sec"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'purchase'),
             |v0 AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'view'),
             |v AS (SELECT user_id, ts, max(event_id) AS last_view_id FROM v0 GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, v.last_view_id,
             |epoch_us(p.ts) // 1000000 - epoch_us(v.ts) // 1000000 AS gap_sec
             |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)
    ),
    QueryDef(
      "j03_range_join",
      // Batch interval join via the bucketing rewrite ([[RangeJoin]]):
      // activity (clicks+views) in the 24 h before each error, same
      // user. The naive non-equi form is a nested-loop product; the
      // bucketed form is an equi shuffle join on (user, day-bucket) with
      // the left exploded to ≤ 2 candidate buckets. Zero-activity errors
      // are kept by a final left join against the aggregated counts.
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val acts = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id").as("act_id"), col("ts").as("act_ts"))
        val pairs = RangeJoin.intervalJoin(
          errors, acts, Seq("user_id"), "ts", "act_ts",
          beforeUs = 24L * 3600 * 1000000, afterUs = 0L)
        errors
          .join(pairs.groupBy(col("event_id")).agg(count(lit(1)).as("n")), Seq("event_id"), "left")
          .select(
            col("event_id"), col("user_id"),
            coalesce(col("n"), lit(0L)).as("n_acts_24h"))
      },
      Some("""WITH er AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'error'),
             |act AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type IN ('click', 'view'))
             |SELECT e.event_id, e.user_id, count(a.event_id) AS n_acts_24h
             |FROM er e LEFT JOIN act a ON a.user_id = e.user_id
             |  AND epoch_us(a.ts) >= epoch_us(e.ts) - 86400000000
             |  AND epoch_us(a.ts) < epoch_us(e.ts)
             |GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "j04_band_join_auto",
      // The RAW non-equi band join, written the way a user writes it —
      // no manual bucketing: clicks in the hour before each purchase by
      // the same user, LEFT OUTER so zero-click purchases keep a row.
      // In the gate sessions (Verify/Bench build with GraftExtensions)
      // [[graft.plans.RangeJoinRewrite]] rewrites this automatically
      // into the bucketed equi join + copy-resolution window; in a
      // session without the rule the same code still returns identical
      // rows through Spark's stock per-key hash join. This is the
      // production proof that the rule fires outside its spec.
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts"))
        purchases.join(clicks,
            col("user_id") === col("cu") &&
              unix_micros(col("cts")) >= unix_micros(col("ts")) - 3600L * 1000000L &&
              unix_micros(col("cts")) < unix_micros(col("ts")),
            "left_outer")
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(col("click_id")).as("n_clicks_1h"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'click')
             |SELECT p.event_id, p.user_id, count(c.event_id) AS n_clicks_1h
             |FROM p LEFT JOIN c ON c.user_id = p.user_id
             |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
             |  AND epoch_us(c.ts) < epoch_us(p.ts)
             |GROUP BY 1, 2""".stripMargin)
    ),
    QueryDef(
      "j05_band_join_full_outer",
      // j04's FULL OUTER sibling: purchases ⟗ clicks-in-the-prior-hour,
      // the attribution shape that must ALSO keep clicks that converted
      // nothing. Stock Spark plans a full-outer band join only as a
      // BroadcastNestedLoopJoin; under the gate sessions
      // [[graft.plans.RangeJoinRewrite]] rewrites it as the LeftOuter
      // bucketed construction UNION ALL the mirrored-band anti join
      // (unmatched clicks, null-padded) — two linear shuffle passes,
      // no NLJ. Aggregated per user bucket so the dump stays small
      // while still checking matched/unmatched multiplicity row-wise.
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
        purchases.join(clicks,
            col("pu") === col("cu") &&
              unix_micros(col("cts")) >= unix_micros(col("ts")) - 3600L * 1000000L &&
              unix_micros(col("cts")) < unix_micros(col("ts")),
            "full_outer")
          .groupBy(pmod(coalesce(col("pu"), col("cu")), lit(50L)).as("ubkt"))
          .agg(
            count(col("pid")).as("n_p_rows"),
            count(col("cid")).as("n_c_rows"),
            count(when(col("pid").isNotNull && col("cid").isNotNull, 1)).as("n_matched"),
            count(lit(1)).as("n_rows"))
      },
      Some("""WITH p AS (SELECT event_id AS pid, user_id AS pu, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS cid, user_id AS cu, CAST(ts AS TIMESTAMP) AS cts
             |  FROM events WHERE event_type = 'click')
             |SELECT coalesce(pu, cu) % 50 AS ubkt,
             |  CAST(count(pid) AS BIGINT) AS n_p_rows,
             |  CAST(count(cid) AS BIGINT) AS n_c_rows,
             |  CAST(count(CASE WHEN pid IS NOT NULL AND cid IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM p FULL JOIN c ON cu = pu
             |  AND epoch_us(cts) >= epoch_us(ts) - 3600000000
             |  AND epoch_us(cts) < epoch_us(ts)
             |GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      "j06_band_join_right_outer",
      // the RIGHT OUTER member of the band-join family — clicks ⟖
      // purchases-in-the-next-hour written from the click side, the
      // one join type that previously fell back to the stock
      // per-hot-key-quadratic sort-merge plan. Under the gate
      // sessions [[graft.plans.RangeJoinRewrite]] rewrites it as the
      // LeftOuter bucketed construction mirrored (uid on the
      // preserved right side, band negated, hints swapped); in a
      // session without the rule the same code still returns
      // identical rows through Spark's stock plan. Aggregated per
      // user bucket like j05 so the dump stays small while checking
      // matched/unmatched multiplicity row-wise.
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts"))
        clicks.join(purchases,
            col("pu") === col("cu") &&
              unix_micros(col("cts")) >= unix_micros(col("ts")) - 3600L * 1000000L &&
              unix_micros(col("cts")) < unix_micros(col("ts")),
            "right_outer")
          .groupBy(pmod(col("pu"), lit(50L)).as("ubkt"))
          .agg(
            count(col("pid")).as("n_p_rows"),
            count(col("cid")).as("n_c_rows"),
            count(when(col("pid").isNotNull && col("cid").isNotNull, 1)).as("n_matched"),
            count(lit(1)).as("n_rows"))
      },
      Some("""WITH c AS (SELECT event_id AS cid, user_id AS cu, CAST(ts AS TIMESTAMP) AS cts
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT event_id AS pid, user_id AS pu, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT pu % 50 AS ubkt,
             |  CAST(count(pid) AS BIGINT) AS n_p_rows,
             |  CAST(count(cid) AS BIGINT) AS n_c_rows,
             |  CAST(count(CASE WHEN pid IS NOT NULL AND cid IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM c RIGHT JOIN p ON cu = pu
             |  AND epoch_us(cts) >= epoch_us(ts) - 3600000000
             |  AND epoch_us(cts) < epoch_us(ts)
             |GROUP BY 1""".stripMargin)
    )
  )

  // ---- generated oracle SQL for the sketch/ANN operators --------------------

  /** DuckDB twin of [[Dedup.minhashLsh]]: same md5-based shingle hashes,
    * same 64 universal-hash minima, same 16-band candidate join, same
    * empty-shingle exclusion, same exact-jaccard verification. */
  /** The shared d01/d07 CTE chain: tokens → shingles → minhash
    * signatures → LSH band keys, over all documents. */
  private def minhashBandedCte: String = {
    val sigTerms = (0 until Dedup.numHashes).map { j =>
      s"coalesce(list_min(list_transform(hs, h -> (h * ${Dedup.hashA(j)} + ${Dedup.hashB(j)}) % $P)), $P)"
    }.mkString(", ")
    val bandKeys = (0 until Dedup.numBands).map { b =>
      val parts = (0 until Dedup.rowsPerBand).map(r => s"sig[${b * Dedup.rowsPerBand + r + 1}]").mkString(", ")
      s"concat_ws(',', $b, $parts)"
    }.mkString(", ")
    s"""toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
       |shg AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
       |  list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) ELSE [] END AS sh FROM toks),
       |base AS (SELECT doc_id, sh,
       |  list_transform(sh, s -> ${Hashing.md5LongSql("s", 3)} % $P) AS hs FROM shg
       |  WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, sh, [$sigTerms] AS sig FROM base),
       |banded AS (SELECT doc_id, sh, unnest([$bandKeys]) AS bk FROM sig)""".stripMargin
  }

  private val jaccardExpr: String =
    """CAST(len(list_filter(sha, x -> list_contains(shb, x))) AS DOUBLE) /
      |  (len(sha) + len(shb) - len(list_filter(sha, x -> list_contains(shb, x))))""".stripMargin

  private def minhashLshSql(threshold: Double): String =
    s"""WITH $minhashBandedCte,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
       |  FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |WHERE $jaccardExpr >= $threshold""".stripMargin

  /** DuckDB twin of [[Dedup.minhashLshIncremental]]: identical band
    * chain, candidate join restricted to batch×corpus (batch = doc_id %
    * batchMod == 0) instead of the self-join's id_a < id_b. */
  private def minhashIncrementalSql(batchMod: Int, threshold: Double): String =
    s"""WITH $minhashBandedCte,
       |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id, a.sh AS sha, b.sh AS shb
       |  FROM banded a JOIN banded b ON a.bk = b.bk
       |  AND a.doc_id % $batchMod = 0 AND b.doc_id % $batchMod <> 0)
       |SELECT batch_id, corpus_id, round($jaccardExpr, 6) AS jaccard
       |FROM cand
       |WHERE $jaccardExpr >= $threshold""".stripMargin

  /** DuckDB twin of [[Dedup.dedupClusters]] over the d01 pair graph:
    * transitive closure by recursive CTE, canonical id = min reachable
    * id — the declarative fixpoint equal to Spark's iterative
    * min-label propagation. */
  private def dedupClustersSql(threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${minhashLshSql(threshold)})),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id AS doc_id, min(label) AS canonical_id FROM reach GROUP BY 1""".stripMargin

  /** DuckDB twin of [[Dedup.canonicalDocs]] over the d05 clusters:
    * same (quality desc, n_tokens desc, doc_id asc) argmax, expressed
    * as a rank window at oracle scale. */
  private def canonicalDocsSql(threshold: Double): String = {
    val tk = toksSql("lower(text)")
    val stop = Text.stopwords.map(w => s"'$w'").mkString(",")
    s"""WITH c AS (SELECT doc_id, canonical_id AS cluster_id FROM (${dedupClustersSql(threshold)})),
       |q AS (SELECT doc_id,
       |  CAST(CASE WHEN len($tk) >= 20 AND 20 * len(list_filter($tk, t -> t IN ($stop))) >= len($tk) THEN 2
       |  WHEN len($tk) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS quality,
       |  CAST(len($tk) AS BIGINT) AS n_tokens FROM documents),
       |k AS (SELECT cluster_id, doc_id AS kept_id FROM
       |  (SELECT c.cluster_id, q.doc_id,
       |   row_number() OVER (PARTITION BY c.cluster_id
       |     ORDER BY q.quality DESC, q.n_tokens DESC, q.doc_id ASC) AS rn
       |   FROM c JOIN q ON c.doc_id = q.doc_id)
       |  WHERE rn = 1)
       |SELECT c.doc_id, c.cluster_id, k.kept_id, c.doc_id = k.kept_id AS keep
       |FROM c JOIN k ON c.cluster_id = k.cluster_id""".stripMargin
  }

  /** Shared CTE chain of the t22/t28 contaminated-span oracle
    * ([[graft.operators.Decontaminate.contaminatedSpans]] with
    * gram length `k`, hash `seed`, eval = doc_id % `evalMod` == 0):
    * positional k-gram hashes → eval gram set → train-side seed
    * positions → merged maximal spans (`csp_spans`: doc_id, span_idx,
    * start_tok, end_tok, n_tokens, n_seeds). `csp_`-prefixed so it
    * composes into larger WITH chains without name collisions. */
  private def contamSpanCtes(k: Int, seed: Int, evalMod: Int): String = {
    val tk = toksSql("lower(text)")
    val parts = (0 until k).map(j => s"t[i+$j]").mkString(", ")
    s"""csp_tk AS (SELECT doc_id, $tk AS t FROM documents),
       |csp_g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  ${Hashing.md5LongSql(s"concat_ws(' ', $parts)", seed)} AS gh
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${k - 1})) AS i FROM csp_tk)),
       |csp_ev AS (SELECT DISTINCT gh FROM csp_g WHERE doc_id % $evalMod = 0),
       |csp_seeds AS (SELECT doc_id, pos FROM csp_g
       |  WHERE doc_id % $evalMod != 0 AND gh IN (SELECT gh FROM csp_ev)),
       |csp_flag AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + $k THEN 1 ELSE 0 END AS new_span
       |  FROM csp_seeds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |csp_sp AS (SELECT doc_id, pos,
       |  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_idx
       |  FROM csp_flag),
       |csp_spans AS (SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
       |CAST(min(pos) AS BIGINT) AS start_tok, CAST(max(pos) + $k AS BIGINT) AS end_tok,
       |CAST(max(pos) + $k - min(pos) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_seeds
       |FROM csp_sp GROUP BY doc_id, span_idx)""".stripMargin
  }

  /** DuckDB twin of s15 ([[graft.operators.Similarity.srpProject]]):
    * the identical md5-derived ±1 sign rows rendered as list literals,
    * each dot folded in index order ([[Vectors.dotSql]]). */
  private def srpProjectSql(m: Int, dim: Int): String = {
    val signs = graft.functions.VectorExpressions.SrpBucket.signMatrix(m, dim)
    val cols = (0 until m).map { j =>
      val lst = signs(j).map(b => if (b == 1) "1.0" else "-1.0").mkString("([", ", ", "])")
      s"round(${Vectors.dotSql("embedding", lst)}, 5) AS p${"%02d".format(j)}"
    }.mkString(",\n")
    s"SELECT vec_id, $cols FROM embeddings"
  }

  /** DuckDB twin of t23 ([[graft.operators.Tokenize.bpeMerges]]): the
    * same `rounds` sequential merge rounds as a CTE chain — wrap every
    * char as chr(30)·c·chr(31), count adjacent symbol pairs weighted by
    * word frequency, pick the (count desc, lhs asc, rhs asc) argmax,
    * apply it with a leftmost-non-overlapping literal replace, repeat. */
  /** Shared WITH-body of the t23/t25 oracles: word-frequency base +
    * `rounds` sequential merge-round CTEs (see t23's doc). Each w$r
    * LEFT-joins its round's (≤1-row) argmax so an exhausted corpus —
    * no pairs left before round `rounds` — carries the vocab forward
    * unchanged instead of emptying every subsequent CTE, matching the
    * Spark side's early stop (t23 then emits fewer merge rows, and
    * t25's final split still sees the fully-merged vocab). */
  private def bpeRoundsCtes(rounds: Int): String = {
    val tk = toksSql("lower(text)")
    val base =
      s"""wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM
         |  (SELECT unnest($tk) AS w FROM documents)
         |  WHERE NOT contains(w, chr(30)) AND NOT contains(w, chr(31)) GROUP BY w),
         |w0 AS (SELECT f, regexp_replace(w, '(.)', chr(30) || '\\1' || chr(31), 'g') AS sym FROM wf)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s"""sy$r AS (SELECT f, list_transform(list_filter(string_split(sym, chr(31)), x -> x != ''),
         |    x -> x[2:]) AS a FROM w${r - 1}),
         |pc$r AS (SELECT a[i] AS lhs, a[i + 1] AS rhs, CAST(sum(f) AS BIGINT) AS n
         |  FROM (SELECT f, a, unnest(generate_series(1, len(a) - 1)) AS i FROM sy$r WHERE len(a) >= 2)
         |  GROUP BY 1, 2),
         |tp$r AS (SELECT lhs, rhs, n FROM pc$r ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
         |w$r AS (SELECT f, CASE WHEN lhs IS NULL THEN sym ELSE
         |    replace(sym, chr(30) || lhs || chr(31) || chr(30) || rhs || chr(31),
         |    chr(30) || lhs || rhs || chr(31)) END AS sym
         |  FROM w${r - 1} LEFT JOIN tp$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$roundsSql"
  }

  private def bpeMergesSql(rounds: Int): String = {
    val out = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs, n AS pair_n FROM tp$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeRoundsCtes(rounds)}\n$out"
  }

  /** DuckDB twin of t25 ([[graft.operators.Tokenize.bpeApply]]): replay
    * the same `rounds` merges, then split the final symbol strings and
    * count subword occurrences weighted by word frequency. */
  private def bpeApplySql(rounds: Int, topK: Int): String =
    s"""WITH ${bpeRoundsCtes(rounds)},
       |syF AS (SELECT f, list_transform(list_filter(string_split(sym, chr(31)), x -> x != ''),
       |    x -> x[2:]) AS a FROM w$rounds),
       |tok AS (SELECT f, unnest(a) AS token FROM syF),
       |c AS (SELECT token, CAST(sum(f) AS BIGINT) AS n FROM tok GROUP BY 1)
       |SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rk
       |FROM c ORDER BY n DESC, token ASC LIMIT $topK""".stripMargin

  /** DuckDB twin of d09: [[graft.operators.Sketch.kmvMinima]] +
    * [[graft.operators.Sketch.kmvOverlap]] over the source-pool corpora,
    * plus the exact-overlap validation columns. The sketch hash and its
    * tie-break mirror `Packing.stratifiedCap` (order by h, then element);
    * the estimate is q34's `floor((k-1)·2⁶⁰ / h_k)`. */
  private def corpusOverlapSql(seed: Int, k: Int): String = {
    val tk = toksSql("lower(text)")
    val sh = Text.shinglesSql("tk", 3)
    val h = Hashing.md5LongSql("concat('cap:', gram)", seed)
    def est(hk: String, n: String) =
      s"CASE WHEN $n < $k THEN $n ELSE CAST(floor(${k - 1} * 1152921504606846976.0 / $hk) AS BIGINT) END"
    s"""WITH tkx AS (SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'A' ELSE 'B' END AS corp,
       |  $tk AS tk FROM documents),
       |g AS (SELECT DISTINCT corp, gram FROM
       |  (SELECT corp, unnest($sh) AS gram FROM tkx)),
       |hx AS (SELECT corp, gram, $h AS h FROM g),
       |sk AS (SELECT corp, h FROM (SELECT corp, h,
       |    row_number() OVER (PARTITION BY corp ORDER BY h ASC, gram ASC) AS rn FROM hx)
       |  WHERE rn <= $k),
       |m AS (SELECT h, CAST(max(CASE WHEN corp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
       |  CAST(max(CASE WHEN corp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS in_b FROM sk GROUP BY h),
       |kk AS (SELECT * FROM m ORDER BY h ASC LIMIT $k),
       |e AS (SELECT CAST(count(*) AS BIGINT) AS n_k, CAST(sum(in_a * in_b) AS BIGINT) AS matches,
       |  max(h) AS h_k FROM kk),
       |pc AS (SELECT corp, ${est("max(h)", "count(*)")} AS d_c FROM sk GROUP BY corp),
       |ex AS (SELECT CAST(sum(ia * ib) AS BIGINT) AS exact_inter,
       |  CAST(count(*) AS BIGINT) AS exact_union FROM
       |  (SELECT gram, max(CASE WHEN corp = 'A' THEN 1 ELSE 0 END) AS ia,
       |     max(CASE WHEN corp = 'B' THEN 1 ELSE 0 END) AS ib FROM g GROUP BY gram)),
       |fin AS (SELECT CAST($k AS BIGINT) AS k, n_k, matches,
       |  matches * 1000000 // n_k AS jaccard_e6,
       |  ${est("h_k", "n_k")} AS d_union FROM e),
       |fin2 AS (SELECT *, (matches * d_union) // n_k AS inter_est,
       |  (SELECT d_c FROM pc WHERE corp = 'A') AS d_a,
       |  (SELECT d_c FROM pc WHERE corp = 'B') AS d_b FROM fin)
       |SELECT k, n_k, matches, jaccard_e6, d_union, inter_est, d_a, d_b,
       |  (inter_est * 1000000) // greatest(d_a, 1) AS contain_a_e6,
       |  (inter_est * 1000000) // greatest(d_b, 1) AS contain_b_e6,
       |  exact_inter, exact_union,
       |  (exact_inter * 1000000) // exact_union AS exact_jaccard_e6
       |FROM fin2, ex""".stripMargin
  }

  /** DuckDB twin of [[Dedup.ngramJaccard]] — the exact quadratic
    * baseline, bounded to the query subset (id % sampleMod == 0). */
  private def ngramJaccardSql(sampleMod: Int, threshold: Double): String = {
    val inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    val jacc = s"CAST($inter AS DOUBLE) / (len(a.sh) + len(b.sh) - $inter)"
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
       |shg AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
       |  FROM toks WHERE len(tk) >= 3)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, round($jacc, 6) AS jaccard
       |FROM shg a JOIN shg b ON a.doc_id % $sampleMod = 0 AND a.doc_id < b.doc_id
       |WHERE $jacc >= $threshold""".stripMargin
  }

  /** DuckDB twin of [[Dedup.exactJaccardJoin]]: the same exact all-pairs
    * semantics computed quadratically (feasible at oracle scale) with
    * the similarity in exact integer micro-units. */
  private def exactJaccardJoinSql(threshold: Double): String = {
    val tE6 = math.round(threshold * 1000000)
    val inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
       |shg AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
       |  FROM toks WHERE len(tk) >= 3)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |CAST($inter AS BIGINT) * 1000000 // (len(a.sh) + len(b.sh) - $inter) AS jaccard_e6
       |FROM shg a JOIN shg b ON a.doc_id < b.doc_id
       |WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |AND CAST($inter AS BIGINT) * 1000000 >= $tE6 * (len(a.sh) + len(b.sh) - $inter)""".stripMargin
  }

  /** DuckDB twin of [[Dedup.simhashTable]]: (doc_id, simhash). */
  private def simhashTableSql: String = {
    val bitTerms = (0 until Text.simhashBits).map { i =>
      s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $i) & 1 = 1)) > len(hs) THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
       |hsx AS (SELECT doc_id, list_transform(tk, t -> ${Hashing.md5LongSql("t", 11)}) AS hs
       |  FROM toks WHERE len(tk) > 0)
       |SELECT doc_id, $bitTerms AS simhash FROM hsx""".stripMargin
  }

  /** DuckDB twin of the ADC serving path — shared by s11 (inline
    * search) and s14 (served from the stored PqIndex): the two Spark
    * programs are the same arithmetic by construction, so one oracle
    * gates both. */
  private def pqAdcServeSql: String = {
    def dot(a: String, b: String) = Vectors.dotSql(a, b)
    s"""WITH sv AS (SELECT vec_id, CAST(m AS BIGINT) AS sub,
       |  list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
       |  FROM embeddings, (SELECT unnest(generate_series(0, 3)) AS m) g),
       |cents AS (SELECT vec_id AS cid, sub, sv AS cv FROM sv WHERE vec_id < 8),
       |scored AS (SELECT s.vec_id, s.sub, c.cid,
       |  round(${dot("s.sv", "s.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("s.sv", "c.cv")}, 5) AS dist
       |  FROM sv s JOIN cents c ON s.sub = c.sub),
       |codes AS (SELECT vec_id AS cand_id, sub, cid AS code FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cid ASC) AS rn FROM scored)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, sub, sv FROM sv WHERE vec_id % 13 = 0),
       |qtab AS (SELECT query_id, c.sub, c.cid,
       |  CAST(round((${dot("q.sv", "q.sv")} + ${dot("c.cv", "c.cv")} - 2 * ${dot("q.sv", "c.cv")}) * 100000, 0) AS BIGINT) AS dq_e5
       |  FROM q JOIN cents c ON q.sub = c.sub),
       |adc AS (SELECT query_id, cand_id, CAST(sum(dq_e5) AS BIGINT) AS adc_e5
       |  FROM codes JOIN qtab ON codes.sub = qtab.sub AND codes.code = qtab.cid
       |  WHERE cand_id != query_id GROUP BY 1, 2)
       |SELECT query_id, cand_id, adc_e5, rk FROM
       |(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_e5 ASC, cand_id ASC) AS BIGINT) AS rk FROM adc)
       |WHERE rk <= 5""".stripMargin
  }

  /** DuckDB twin of [[Dedup.simhashPairs]]: per-doc 60-bit simhash from
    * 60-bit md5 token hashes, 4×15-bit pigeonhole banding, exact hamming.
    * `maxIdGap` adds the st06 TTL restriction — pairs no further apart
    * than the gap in doc_id units (= seconds of event time there). */
  private def simhashPairsSql(maxHamming: Int, maxIdGap: Option[Long] = None): String = {
    val bitTerms = (0 until Text.simhashBits).map { i =>
      s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $i) & 1 = 1)) > len(hs) THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val cb = Dedup.simhashChunkBits
    val mask = (1L << cb) - 1
    val chunkIdx = (0 until Dedup.simhashChunks).mkString("[", ", ", "]")
    val gap = maxIdGap.fold("")(g => s"\nAND abs(a.doc_id - b.doc_id) <= $g")
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents),
       |hsx AS (SELECT doc_id, list_transform(tk, t -> ${Hashing.md5LongSql("t", 11)}) AS hs
       |  FROM toks WHERE len(tk) > 0),
       |sh AS (SELECT doc_id, $bitTerms AS simhash FROM hsx),
       |banded AS (SELECT doc_id, simhash, c.c AS chunk, (simhash >> (c.c * $cb)) & $mask AS key
       |  FROM sh, (SELECT unnest($chunkIdx) AS c) c)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming$gap""".stripMargin
  }

  /** DuckDB twin of [[Dedup.embeddingNearDup]]: same SRP-LSH banding
    * ([[Similarity.srpCode]] hyperplane signs inlined as literal lists),
    * same candidate dedup, same exact-cosine verification with per-row
    * precomputed norms — bit-for-bit the Spark plan's arithmetic. */
  private def embeddingNearDupSql(threshold: Double, numPlanes: Int, dim: Int): String = {
    val dot = Vectors.dotSql("va", "vb")
    s"""${srpBandedCtesSql(numPlanes, dim)},
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |  a.vec AS va, a.nrm AS na, b.vec AS vb, b.nrm AS nb
       |  FROM banded a JOIN banded b ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b,
       |round(CASE WHEN na * nb = 0 THEN 0.0 ELSE $dot / (na * nb) END, 5) AS cosine
       |FROM cand
       |WHERE (CASE WHEN na * nb = 0 THEN 0.0 ELSE $dot / (na * nb) END) >= $threshold""".stripMargin
  }

  /** The shared SRP coding + banding CTEs (`coded`, `banded`) of the
    * embedding near-dup oracles — one copy so the incremental twin can
    * never drift from d03's arithmetic. */
  private def srpBandedCtesSql(numPlanes: Int, dim: Int): String = {
    val signs: Seq[Seq[Int]] = (0 until numPlanes).map { p =>
      (0 until dim).map { dd =>
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$p:$dd".getBytes("UTF-8"))
        if ((md5.last & 1) == 1) 1 else -1
      }
    }
    val bucketTerms = (0 until numPlanes).map { p =>
      val lst = signs(p).mkString("[", ", ", "]")
      s"""(CASE WHEN list_aggregate(list_transform(generate_series(1, $dim),
         |  i -> CAST(embedding[i] AS DOUBLE) * CAST(($lst)[i] AS DOUBLE)), 'sum') > 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    val chunks = math.max(1, numPlanes / 8)
    val chunkIdx = (0 until chunks).mkString("[", ", ", "]")
    s"""WITH coded AS (SELECT vec_id AS id, embedding AS vec,
       |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm,
       |  $bucketTerms AS bucket FROM embeddings),
       |banded AS (SELECT id, vec, nrm, c.c AS chunk, (bucket >> (c.c * 8)) & 255 AS key
       |  FROM coded, (SELECT unnest($chunkIdx) AS c) c)""".stripMargin
  }

  /** DuckDB twin of [[Dedup.embeddingNearDupIncrementalAgainst]] with
    * the corpus prepared inline: identical coding/banding to d03's
    * oracle, candidates restricted to batch (id % batchMod = 0) ×
    * corpus cross pairs — no self pairs on either side. */
  private def embeddingNearDupIncSql(batchMod: Int, threshold: Double, numPlanes: Int, dim: Int): String = {
    val dot = Vectors.dotSql("va", "vb")
    s"""${srpBandedCtesSql(numPlanes, dim)},
       |cand AS (SELECT DISTINCT a.id AS batch_id, b.id AS corpus_id,
       |  a.vec AS va, a.nrm AS na, b.vec AS vb, b.nrm AS nb
       |  FROM banded a JOIN banded b ON a.chunk = b.chunk AND a.key = b.key
       |    AND a.id % $batchMod = 0 AND b.id % $batchMod <> 0)
       |SELECT batch_id, corpus_id,
       |round(CASE WHEN na * nb = 0 THEN 0.0 ELSE $dot / (na * nb) END, 5) AS cosine
       |FROM cand
       |WHERE (CASE WHEN na * nb = 0 THEN 0.0 ELSE $dot / (na * nb) END) >= $threshold""".stripMargin
  }

  /** DuckDB twin of t14: same injected furniture, same line-frequency
    * rule (empty lines never count, dropped lines leave no separator —
    * `string_agg` skips the NULLed-out lines exactly as the Spark side
    * filters them from the array before `concat_ws`). */
  private def boilerplateStripSql(maxDocFreq: Int): String =
    s"""WITH injected AS (SELECT doc_id,
       |  'Subscribe now' || chr(10) || text || chr(10) || 'uniq-' || CAST(doc_id AS VARCHAR)
       |    || chr(10) || '(c) 2026 Example Corp' AS text FROM documents),
       |parted AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM injected),
       |lines AS (SELECT doc_id, unnest(generate_series(1, len(parts))) AS pos, unnest(parts) AS line
       |  FROM parted),
       |bad AS (SELECT line FROM
       |  (SELECT line, count(DISTINCT doc_id) AS df FROM lines WHERE trim(line) <> '' GROUP BY 1)
       |  WHERE df > $maxDocFreq),
       |marked AS (SELECT l.doc_id, l.pos, l.line,
       |  CASE WHEN b.line IS NULL THEN 0 ELSE 1 END AS dropped
       |  FROM lines l LEFT JOIN bad b ON l.line = b.line)
       |SELECT doc_id,
       |coalesce(string_agg(CASE WHEN dropped = 0 THEN line END, chr(10) ORDER BY pos), '') AS clean,
       |CAST(count(*) AS BIGINT) AS n_lines,
       |CAST(sum(dropped) AS BIGINT) AS n_dropped
       |FROM marked GROUP BY doc_id""".stripMargin

  /** DuckDB twin of t13: the same deterministic PII injection, the
    * regex chain lifted verbatim from [[graft.operators.Redact.Chain]]
    * (one source of truth — the patterns are RE2/Java-portable by
    * construction), counts measured on the original text. */
  private def piiRedactionSql: String = {
    val injected = Seq(
      "text",
      "' reach j'", "CAST(doc_id AS VARCHAR)", "'@ex'", "CAST(doc_id % 7 AS VARCHAR)", "'.com'",
      "' or 312-555-'", "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')",
      "CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END",
      "CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END"
    ).mkString(" || ")
    val clean = graft.operators.Redact.Chain.foldLeft("text") {
      case (acc, (re, token)) => s"regexp_replace($acc, '$re', '$token', 'g')"
    }
    val counts = Seq(
      "n_email" -> graft.operators.Redact.EmailRe,
      "n_ssn" -> graft.operators.Redact.SsnRe,
      "n_phone" -> graft.operators.Redact.PhoneRe,
      "n_ip" -> graft.operators.Redact.Ipv4Re
    ).map { case (n, re) => s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS $n" }
    s"""WITH injected AS (SELECT doc_id, $injected AS text FROM documents)
       |SELECT doc_id, $clean AS clean, ${counts.mkString(",\n")}
       |FROM injected""".stripMargin
  }

  /** DuckDB twin of [[Decontaminate.semanticContamination]]: same
    * broadcast-eval scoring, argmax replicated as the (cos desc,
    * eval_id asc) window the Spark `max_by` struct order encodes,
    * threshold applied to the unrounded cosine (the d03 rule). */
  private def semanticContaminationSql(evalMod: Int, threshold: Double): String = {
    val dot = Vectors.dotSql("b.vec", "e.ev")
    s"""WITH base AS (SELECT vec_id AS id, embedding AS vec,
       |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |e AS (SELECT id AS eval_id, vec AS ev, nrm AS en FROM base WHERE id % $evalMod = 0),
       |scored AS (SELECT b.id, e.eval_id,
       |  CASE WHEN b.nrm * e.en = 0 THEN 0.0 ELSE $dot / (b.nrm * e.en) END AS cos
       |  FROM base b CROSS JOIN e WHERE b.id % $evalMod <> 0),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, eval_id ASC) AS r
       |  FROM scored)
       |SELECT id AS vec_id, eval_id AS near_eval_id, round(cos, 5) AS max_cos,
       |CASE WHEN cos >= $threshold THEN 1 ELSE 0 END AS contaminated
       |FROM ranked WHERE r = 1""".stripMargin
  }

  /** DuckDB twin of [[Similarity.bruteForceTopK]]. */
  private def bruteForceTopKSql(nQueries: Int, k: Int): String = {
    val dot = Vectors.dotSql("q.embedding", "c.embedding")
    s"""WITH e AS (SELECT vec_id, embedding,
       |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |  CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE $dot / (q.nrm * c.nrm) END AS cosine
       |  FROM e q JOIN e c ON q.vec_id < $nQueries AND q.vec_id != c.vec_id)
       |SELECT query_id, cand_id, round(cosine, 5) AS cosine, rk FROM
       |(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk FROM p)
       |WHERE rk <= $k""".stripMargin
  }

  /** DuckDB twin of [[Similarity.ivfTopK]]: same data-point coarse
    * quantizer, same argmax assignment (tie → lowest centroid id), same
    * probe/re-rank arithmetic. */
  private def ivfTopKSql(nCentroids: Int, nProbe: Int, nQueries: Int, k: Int): String = {
    def dot(a: String, b: String) = Vectors.dotSql(a, b)
    s"""WITH base AS (SELECT vec_id AS id, embedding AS vec,
       |  sqrt(${dot("embedding", "embedding")}) AS nrm FROM embeddings),
       |cents AS (SELECT id AS cid, vec AS cvec, nrm AS cnrm FROM base WHERE id < $nCentroids),
       |scored AS (SELECT b.id, b.vec, b.nrm, c.cid,
       |  CASE WHEN b.nrm * c.cnrm = 0 THEN 0.0 ELSE ${dot("b.vec", "c.cvec")} / (b.nrm * c.cnrm) END AS csim
       |  FROM base b CROSS JOIN cents c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid ASC) AS r FROM scored),
       |assigned AS (SELECT id, vec, nrm, cid AS cluster FROM ranked WHERE r = 1),
       |probes AS (SELECT id AS query_id, cid AS cluster FROM ranked WHERE r <= $nProbe AND id < $nQueries),
       |cand AS (SELECT DISTINCT p.query_id, a.id AS cand_id, a.vec AS cv, a.nrm AS cn, q.vec AS qv, q.nrm AS qn
       |  FROM probes p JOIN assigned a ON a.cluster = p.cluster AND a.id != p.query_id
       |  JOIN assigned q ON q.id = p.query_id),
       |scored2 AS (SELECT query_id, cand_id,
       |  CASE WHEN qn * cn = 0 THEN 0.0 ELSE ${dot("qv", "cv")} / (qn * cn) END AS cosine FROM cand)
       |SELECT query_id, cand_id, round(cosine, 5) AS cosine, rk FROM
       |(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk FROM scored2)
       |WHERE rk <= $k""".stripMargin
  }

  /** DuckDB twin of [[Similarity.ivfTopKIndexed]] over an
    * inline-prepared index: same assignment and probe arithmetic as
    * [[ivfTopKSql]], with the query set drawn by modulus
    * (id % queryMod = 0) instead of an id prefix — the serving shape's
    * oracle. */
  private def ivfIndexedSql(nCentroids: Int, nProbe: Int, queryMod: Int, k: Int): String = {
    def dot(a: String, b: String) = Vectors.dotSql(a, b)
    s"""WITH base AS (SELECT vec_id AS id, embedding AS vec,
       |  sqrt(${dot("embedding", "embedding")}) AS nrm FROM embeddings),
       |cents AS (SELECT id AS cid, vec AS cvec, nrm AS cnrm FROM base WHERE id < $nCentroids),
       |scored AS (SELECT b.id, b.vec, b.nrm, c.cid,
       |  CASE WHEN b.nrm * c.cnrm = 0 THEN 0.0 ELSE ${dot("b.vec", "c.cvec")} / (b.nrm * c.cnrm) END AS csim
       |  FROM base b CROSS JOIN cents c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid ASC) AS r FROM scored),
       |assigned AS (SELECT id, vec, nrm, cid AS cluster FROM ranked WHERE r = 1),
       |probes AS (SELECT id AS query_id, cid AS cluster FROM ranked WHERE r <= $nProbe AND id % $queryMod = 0),
       |cand AS (SELECT DISTINCT p.query_id, a.id AS cand_id, a.vec AS cv, a.nrm AS cn, q.vec AS qv, q.nrm AS qn
       |  FROM probes p JOIN assigned a ON a.cluster = p.cluster AND a.id != p.query_id
       |  JOIN base q ON q.id = p.query_id),
       |scored2 AS (SELECT query_id, cand_id,
       |  CASE WHEN qn * cn = 0 THEN 0.0 ELSE ${dot("qv", "cv")} / (qn * cn) END AS cosine FROM cand)
       |SELECT query_id, cand_id, round(cosine, 5) AS cosine, rk FROM
       |(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk FROM scored2)
       |WHERE rk <= $k""".stripMargin
  }

  /** DuckDB twin of [[Similarity.lshTopK]]: the SRP hyperplane signs are
    * data-free md5-derived constants, so they are inlined as literal
    * lists; bucket codes, 2×8-bit banding, and the exact-cosine re-rank
    * all replicate the Spark plan bit-for-bit. */
  private def lshTopKSql(nQueries: Int, k: Int, numPlanes: Int, dim: Int): String = {
    val signs: Seq[Seq[Int]] = (0 until numPlanes).map { p =>
      (0 until dim).map { dd =>
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$p:$dd".getBytes("UTF-8"))
        if ((md5.last & 1) == 1) 1 else -1
      }
    }
    val bucketTerms = (0 until numPlanes).map { p =>
      val lst = signs(p).mkString("[", ", ", "]")
      s"""(CASE WHEN list_aggregate(list_transform(generate_series(1, $dim),
         |  i -> CAST(embedding[i] AS DOUBLE) * CAST(($lst)[i] AS DOUBLE)), 'sum') > 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    val dot = Vectors.dotSql("q.vec", "c.vec")
    s"""WITH coded AS (SELECT vec_id AS id, embedding AS vec,
       |  sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm,
       |  $bucketTerms AS bucket FROM embeddings),
       |banded AS (SELECT id, vec, nrm, c.c AS chunk, (bucket >> (c.c * 8)) & 255 AS key
       |  FROM coded, (SELECT unnest([0, 1]) AS c) c),
       |cand AS (SELECT DISTINCT q.id AS query_id, q.vec AS qvec, q.nrm AS qnrm,
       |  c.id AS cand_id, c.vec AS cvec, c.nrm AS cnrm
       |  FROM banded q JOIN banded c ON q.chunk = c.chunk AND q.key = c.key
       |  AND q.id < $nQueries AND q.id != c.id),
       |scored AS (SELECT query_id, cand_id,
       |  CASE WHEN qnrm * cnrm = 0 THEN 0.0
       |  ELSE ${Vectors.dotSql("qvec", "cvec")} / (qnrm * cnrm) END AS cosine FROM cand)
       |SELECT query_id, cand_id, round(cosine, 5) AS cosine, rk FROM
       |(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk FROM scored)
       |WHERE rk <= $k""".stripMargin
  }
}
