package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.runtime.Tables

/** One driver-contract query: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle run by
  * the driver at sf0.01. Column names match between the two exactly — the
  * driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** The relational / analytics query surface over the driver's testdata
  * tables. Each query is written the way it should run at 100 TB: filters
  * and projections that push to the parquet scan, broadcast joins for
  * small dimensions, windows partitioned by a key (never a global order),
  * and integer-exact outputs (cents / ppm) so results hash-match the
  * DuckDB oracle bit-for-bit.
  */
object Queries {

  /** Money as integer cents: sum(double) differs in last-ulp between
    * engines; sum(bigint) is exact in both. Oracle side casts the sum
    * back to BIGINT because DuckDB promotes sum(BIGINT) to HUGEINT.
    */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // ---------------------------------------------------------------- TPC-H-ish

  val q01_agg_pricing = QueryDef(
    "q01_agg_pricing",
    (s, d) => {
      Tables.read(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(cents(col("l_quantity"))).as("qty_cents"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(round(col("l_discount") * 10000).cast("long")).as("disc_bp"),
        )
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      CAST(sum(cast(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
      CAST(sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
      CAST(sum(cast(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS disc_bp
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
  )

  /** Dimension-chain join: customer/nation/region are tiny → broadcast all
    * three so the only scan-sized input (orders) never shuffles.
    */
  val q02_join_regions = QueryDef(
    "q02_join_regions",
    (s, d) => {
      val orders = Tables.read(s, d, "orders")
      val customer = broadcast(Tables.read(s, d, "customer"))
      val nation = broadcast(Tables.read(s, d, "nation"))
      val region = broadcast(Tables.read(s, d, "region"))
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
        )
    },
    Some("""SELECT r_name, n_name, count(*) AS n_orders,
      CAST(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name"""),
  )

  /** Top-k with a full deterministic tiebreak (TakeOrderedAndProject —
    * per-partition heaps, no global sort).
    */
  val q03_topk_orders = QueryDef(
    "q03_topk_orders",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(20),
    Some("""SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 20"""),
  )

  // ------------------------------------------------------------ window family

  /** Running sum partitioned by entity — the relational reading of the
    * reference's `random-walk` sampler (cumulative sum of steps,
    * RandomWalkSampler.java:70-77). Partitioned windows scale: one shuffle
    * on user_id, no global order.
    */
  val q04_cumsum_walk = QueryDef(
    "q04_cumsum_walk",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          sum(cents(col("value"))).over(w).as("cum_cents"))
    },
    Some("""SELECT user_id, event_id,
      CAST(sum(cast(round(value * 100) AS BIGINT)) OVER
        (PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      FROM events"""),
  )

  /** lag() change detection — the relational reading of the reference's
    * `changer` sampler (value vs previous value, Changer.java:219-263).
    */
  val q05_change_flags = QueryDef(
    "q05_change_flags",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lag("event_type", 1).over(w).as("prev_type"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("prev_type").isNull || col("event_type") =!= col("prev_type"), 1)
            .otherwise(0)).as("changes"),
        )
    },
    Some("""SELECT user_id, count(*) AS n_events,
      CAST(sum(CASE WHEN prev_type IS NULL OR event_type <> prev_type THEN 1 ELSE 0 END) AS BIGINT) AS changes
      FROM (SELECT user_id, event_type,
              lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
            FROM events)
      GROUP BY user_id"""),
  )

  /** Gap-based sessionization — batch analog of the reference's bursty
    * day/night event machines (BurstyEvents.java:112-214,
    * DnsSampler.java:140-258): a >30 min silence starts a new session.
    */
  val q06_sessionize = QueryDef(
    "q06_sessionize",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), lag("ts", 1).over(w).as("prev_ts"))
        .select(col("user_id"),
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > 1800L * 1000000000L, 1)
            .otherwise(0).as("is_new"))
        .groupBy("user_id")
        .agg(sum("is_new").as("n_sessions"), count(lit(1)).as("n_events"))
    },
    Some("""SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
      FROM (SELECT user_id,
              CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
                   THEN 1 ELSE 0 END AS is_new
            FROM (SELECT user_id, ts,
                    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
                  FROM events))
      GROUP BY user_id"""),
  )

  /** Per-entity row numbering — the `id` sampler (IdSampler.java:45) as a
    * windowed row_number; deterministic and shuffle-bounded by the
    * partition key (the scalable form of a monotonic id).
    */
  val q16_row_ids = QueryDef(
    "q16_row_ids",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("seq_id"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS seq_id
      FROM orders"""),
  )

  /** Poisson-arrival analog (`event` sampler, ArrivalSampler.java:93-100):
    * deterministic inter-arrival gaps accumulated per entity.
    */
  val q17_event_arrival = QueryDef(
    "q17_event_arrival",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          (col("o_orderkey") % 60 + 1).as("gap_s"))
        .select(col("o_custkey"), col("o_orderkey"),
          sum("gap_s").over(w).as("arrival_s"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(sum(o_orderkey % 60 + 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS arrival_s
      FROM orders"""),
  )

  // ------------------------------------------------- structural combinators

  /** `sequence` sampler with flat=true (SequenceSampler.java:130-145) =
    * per-row fan-out: explode(sequence(...)).
    */
  val q07_explode_seq = QueryDef(
    "q07_explode_seq",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          explode(sequence(lit(1L), lit(1L) + col("p_partkey") % 5)).as("i")),
    Some("""SELECT p_partkey, unnest(generate_series(1, 1 + p_partkey % 5)) AS i FROM part"""),
  )

  /** `map` + `flatten` combinators (MapSampler.java:55-69,
    * FlattenSampler.java:48-88): build a struct, then promote its fields.
    */
  val q08_struct_flatten = QueryDef(
    "q08_struct_flatten",
    (s, d) =>
      Tables.read(s, d, "customer")
        .select(struct(col("c_name"), col("c_mktsegment")).as("s"), col("c_custkey"))
        .select(col("c_custkey"), col("s.c_name"), col("s.c_mktsegment")),
    Some("SELECT c_custkey, c_name, c_mktsegment FROM customer"),
  )

  /** `join` sampler (string-join, JoinSampler.java:32-59) + the
    * PhoneNumber processor's NNN-NNN-NNNN shape
    * (telephony/PhoneNumber.java:35-95), made deterministic.
    */
  val q09_phone_format = QueryDef(
    "q09_phone_format",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"),
          format_string("%03d-%03d-%04d",
            col("o_orderkey") % 1000,
            (col("o_orderkey") * 7) % 1000,
            (col("o_orderkey") * 13) % 10000).as("phone")),
    Some("""SELECT o_orderkey,
      printf('%03d-%03d-%04d', o_orderkey % 1000, (o_orderkey * 7) % 1000,
             (o_orderkey * 13) % 10000) AS phone
      FROM orders"""),
  )

  /** Negative projection — RemoveRecordPath (RemoveRecordPath.java:184-189)
    * as column drop; the scan reads only the surviving columns.
    */
  val q10_drop_fields = QueryDef(
    "q10_drop_fields",
    (s, d) => Tables.read(s, d, "customer").drop("c_acctbal", "c_mktsegment"),
    Some("SELECT c_custkey, c_name, c_nationkey FROM customer"),
  )

  /** `array-flatten` (ArrayFlattener.java:33-59): flatten one nesting
    * level; emitted as a joined string so the output is hash-stable.
    */
  val q11_array_flatten = QueryDef(
    "q11_array_flatten",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          array_join(
            flatten(array(
              array(col("p_partkey") % 10),
              array(col("p_partkey") % 7, col("p_partkey") % 3))),
            ",").as("flat")),
    Some("""SELECT p_partkey,
      array_to_string(flatten([[p_partkey % 10], [p_partkey % 7, p_partkey % 3]]), ',') AS flat
      FROM part"""),
  )

  /** DataCorrelator (DataCorrelator.java:277-342): per input row, fan out
    * 1..k correlated records and embed enrichment fields — explode +
    * broadcast join, deterministic fan-out width.
    */
  val q12_correlator_fanout = QueryDef(
    "q12_correlator_fanout",
    (s, d) => {
      val orders = Tables.read(s, d, "orders")
      val customer = broadcast(Tables.read(s, d, "customer"))
      orders
        .select(col("o_orderkey"), col("o_custkey"),
          explode(sequence(lit(1L), lit(1L) + col("o_orderkey") % 3)).as("corr_idx"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("corr_idx"), col("c_name"), col("c_mktsegment"))
    },
    Some("""SELECT o_orderkey, corr_idx, c_name, c_mktsegment
      FROM (SELECT o_orderkey, o_custkey,
              unnest(generate_series(1, 1 + o_orderkey % 3)) AS corr_idx
            FROM orders) o
      JOIN customer ON o_custkey = c_custkey"""),
  )

  /** Transactions processor shape (Transactions.java:158-281): per-entity
    * rollup of a fanned-out detail table.
    */
  val q13_group_collect = QueryDef(
    "q13_group_collect",
    (s, d) =>
      Tables.read(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("spend_cents"),
          min(col("o_orderdate").cast("date")).as("first_order"),
        ),
    Some("""SELECT o_custkey, count(*) AS n_orders,
      CAST(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
      min(cast(o_orderdate AS DATE)) AS first_order
      FROM orders GROUP BY o_custkey"""),
  )

  val q14_distinct_dims = QueryDef(
    "q14_distinct_dims",
    (s, d) =>
      Tables.read(s, d, "customer")
        .join(broadcast(Tables.read(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select("c_mktsegment", "n_name")
        .distinct(),
    Some("""SELECT DISTINCT c_mktsegment, n_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey"""),
  )

  val q15_set_ops = QueryDef(
    "q15_set_ops",
    (s, d) => {
      val auto = Tables.read(s, d, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey").as("k"))
      val withOrders = Tables.read(s, d, "orders").select(col("o_custkey").as("k")).distinct()
      auto.intersect(withOrders)
        .union(auto.except(withOrders))
        .distinct()
    },
    Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      INTERSECT SELECT o_custkey FROM orders
      UNION
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
       EXCEPT SELECT o_custkey FROM orders)"""),
  )

  // ------------------------------------------------------- scalar generators

  /** Date bucketing through the formatter family the reference's
    * FancyTimeFormatter covers (FancyTimeFormatter.java:50-65).
    */
  val q18_date_buckets = QueryDef(
    "q18_date_buckets",
    (s, d) =>
      Tables.read(s, d, "lineitem")
        .select(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
        .groupBy("y", "m")
        .agg(count(lit(1)).as("cnt")),
    Some("""SELECT year(l_shipdate) AS y, month(l_shipdate) AS m, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2"""),
  )

  /** `ipv4` sampler (IpV4AddressSampler.java:44-63) made deterministic: a
    * Knuth-hash of the key → 4 octets. Pure codegen arithmetic, no UDF.
    */
  val q19_ipv4_format = QueryDef(
    "q19_ipv4_format",
    (s, d) => {
      // pre-reduce the key before the Knuth multiply: a raw orderkey *
      // 2654435761 overflows Long (ANSI error) once orderkeys pass ~3.5e9
      val key = ((col("o_orderkey") % 100000L) * 2654435761L) % 4294967296L
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"),
          format_string("%d.%d.%d.%d",
            floor(key / 16777216L).cast("long") % 256,
            floor(key / 65536L).cast("long") % 256,
            floor(key / 256L).cast("long") % 256,
            key % 256).as("ip"))
    },
    Some("""SELECT o_orderkey,
      printf('%d.%d.%d.%d',
        cast(floor((((o_orderkey % 100000) * 2654435761) % 4294967296) / 16777216) AS BIGINT) % 256,
        cast(floor((((o_orderkey % 100000) * 2654435761) % 4294967296) / 65536) AS BIGINT) % 256,
        cast(floor((((o_orderkey % 100000) * 2654435761) % 4294967296) / 256) AS BIGINT) % 256,
        ((o_orderkey % 100000) * 2654435761) % 4294967296 % 256) AS ip
      FROM orders"""),
  )

  /** Quartile bucketing per entity — ntile window. */
  val q35_ntile = QueryDef(
    "q35_ntile",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("nt"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      cast(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS nt
      FROM orders"""),
  )

  /** Pivot-style conditional aggregation (status columns per customer). */
  val q36_pivot_status = QueryDef(
    "q36_pivot_status",
    (s, d) =>
      Tables.read(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("o"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("p")),
    Some("""SELECT o_custkey,
      cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
      cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
      cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM orders GROUP BY o_custkey"""),
  )

  /** Semi/anti join operators: customers flagged by order existence. */
  val q37_semi_anti = QueryDef(
    "q37_semi_anti",
    (s, d) => {
      val customer = Tables.read(s, d, "customer")
      val orders = Tables.read(s, d, "orders")
      val semi = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit(1L).as("has_orders"))
      val anti = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit(0L).as("has_orders"))
      semi.unionByName(anti)
    },
    Some("""SELECT c_custkey,
      CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           THEN 1 ELSE 0 END AS has_orders
      FROM customer"""),
  )

  /** Date arithmetic family: interval add + day difference. */
  val q38_date_arith = QueryDef(
    "q38_date_arith",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"),
          date_add(col("o_orderdate").cast("date"), 30).as("d30"),
          datediff(lit(java.sql.Date.valueOf("2024-01-01")),
            col("o_orderdate").cast("date")).cast("long").as("days_to_2024")),
    Some("""SELECT o_orderkey,
      cast(o_orderdate + INTERVAL 30 DAY AS DATE) AS d30,
      cast(datediff('day', cast(o_orderdate AS DATE), DATE '2024-01-01') AS BIGINT) AS days_to_2024
      FROM orders"""),
  )

  /** Scalar string-function composite (upper/substr/translate/trim). */
  val q39_string_funcs = QueryDef(
    "q39_string_funcs",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 5)).as("u"),
          translate(col("p_brand"), "#", "-").as("tr"),
          length(trim(col("p_type"))).cast("long").as("lt")),
    Some("""SELECT p_partkey, upper(substr(p_name, 1, 5)) AS u,
      translate(p_brand, '#', '-') AS tr,
      cast(length(trim(p_type)) AS BIGINT) AS lt FROM part"""),
  )

  /** max_by / argmax aggregation: each customer's priciest order. The
    * ordering key is composite (price cents major, orderkey minor) so a
    * within-customer price tie can never make the two engines pick
    * different orders (max_by on a tied key is engine-arbitrary).
    */
  val q40_argmax = QueryDef(
    "q40_argmax",
    (s, d) => {
      val ord = cents(col("o_totalprice")) * 10000000L + col("o_orderkey")
      Tables.read(s, d, "orders")
        .groupBy("o_custkey")
        .agg(max_by(col("o_orderkey"), ord).as("top_order"),
          min_by(col("o_orderkey"), ord).as("bottom_order"))
    },
    Some("""SELECT o_custkey,
      max_by(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS top_order,
      min_by(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS bottom_order
      FROM orders GROUP BY o_custkey"""),
  )

  /** percent_rank in integer milli-units (floor of exact k/(n-1) — same
    * double both engines).
    */
  val q42_percent_rank = QueryDef(
    "q42_percent_rank",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          floor(percent_rank().over(w) * 1000).cast("long").as("pr"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      cast(floor(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) * 1000)
        AS BIGINT) AS pr
      FROM orders"""),
  )

  /** RANGE-frame window: moving sum over an orderkey value range (not a
    * row count) — the frame family q04's ROWS frame doesn't cover.
    */
  val q43_range_frame = QueryDef(
    "q43_range_frame",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rangeBetween(-1000L, Window.currentRow)
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("mv"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey
        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS BIGINT) AS mv
      FROM orders"""),
  )

  /** lead + cume_dist — the forward-looking and cumulative-rank window
    * functions the other window queries don't cover.
    */
  val q44_lead_cume = QueryDef(
    "q44_lead_cume",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(lead("o_orderkey", 1).over(w), lit(-1L)).as("nxt"),
          floor(cume_dist().over(w) * 1000).cast("long").as("cd"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      coalesce(lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), -1) AS nxt,
      cast(floor(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) * 1000) AS BIGINT) AS cd
      FROM orders"""),
  )

  val relational: Seq[QueryDef] = Seq(
    q01_agg_pricing, q02_join_regions, q03_topk_orders, q04_cumsum_walk,
    q05_change_flags, q06_sessionize, q07_explode_seq, q08_struct_flatten,
    q09_phone_format, q10_drop_fields, q11_array_flatten, q12_correlator_fanout,
    q13_group_collect, q14_distinct_dims, q15_set_ops, q16_row_ids,
    q17_event_arrival, q18_date_buckets, q19_ipv4_format, q35_ntile,
    q36_pivot_status, q37_semi_anti, q38_date_arith, q39_string_funcs,
    q40_argmax, q42_percent_rank, q43_range_frame, q44_lead_cume,
  )
}
