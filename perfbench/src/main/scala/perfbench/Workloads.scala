package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchSets, SparkEntry, Tables}
import graft.etl.{Scd, Warehouse}

/** One timed call into the program: `build` constructs the DataFrame
  * (the program's builder, eager staging jobs included), `act` is the
  * action that computes every output column. `kind` names the span the
  * action is recorded under in a traced pass.
  */
final case class Op(name: String, kind: String, build: () => DataFrame,
    act: DataFrame => Unit, out: String = "")

/** A verification outcome of the untimed pass. */
final case class Check(name: String, ok: Boolean, detail: String)

/** The four workloads. Every workload's pass is a closed loop on one
  * client thread: the next op starts when the previous one returns.
  *
  * Actions: query ops end in a `noop` data-source write, which
  * computes every output column (a `count()` lets Catalyst prune
  * unused columns and can time less work than the query does);
  * `warehouse_load` ops end in the real parquet write of the table.
  */
final class Workloads(spark: SparkSession, data: String, work: String) {
  import spark.implicits._

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def query(name: String, dir: String): Op =
    Op(name, "action", () => SparkEntry.queries(name)(spark, dir), noop)

  /** The OLAP set: the five headline queries whose fixed cost the
    * ROADMAP measures (sf0.001 vs sf0.1), so one pass stays short
    * enough for the run budget.
    */
  val olapQueries = Seq("q1a_yoy_growth", "q2a_grouping_sets",
    "q3b_moving_avg_ytd", "q4a_semi_join_chain", "q5a_top_ltv")
  require(olapQueries.forall(BenchSets.headline.contains))

  /** graft.text's curation and dedup paths: exact dedup, q13b's
    * shingle-pair shuffle, q12k's build-time staging, BM25 retrieval and
    * q12r's interpreted unigram fold.
    */
  val textQueries = Seq("q13a_exact_dedup", "q13b_ngram_jaccard",
    "q12k_curation_pipeline", "q12y_bm25_topk", "q12r_unigram_logprob")

  // ---- warehouse_load ----
  private val scaled = s"$data/scaled"
  private val changes = s"$data/changes"
  private val wh = s"$work/warehouse"
  private def read(t: String): DataFrame = spark.read.parquet(s"$wh/$t")
  private def write(t: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$wh/$t")
  private def etl(t: String, f: Tables => DataFrame): Op =
    Op(t, "etl.write", () => f(Tables(spark, scaled)), write(t), t)

  private val customerCols = Seq("customer_id", "name", "segment", "nation",
    "region", "acctbal")
  private val productCols = Seq("product_id", "product_name", "brand",
    "product_type", "size", "retail_price")
  private def productNext: DataFrame =
    Warehouse.dimProduct(Tables(spark, changes)).select(productCols.map(col): _*)

  /** The star build: the three dimensions and the order-line fact the
    * revenue query reads back.
    */
  private val starOps = Seq(
    etl("dim_customer", Warehouse.dimCustomer),
    etl("dim_product", Warehouse.dimProduct),
    etl("dim_seller", Warehouse.dimSeller),
    etl("fact_order_lines", Warehouse.factOrderLines))

  /** The change batch (generated under `changes/`): a next snapshot of
    * customer (SCD2 history), the changed and new suppliers (SCD1
    * upsert) and a next snapshot of part with updates, deletes and
    * inserts (CDC extract + apply).
    */
  private val scdOps = Seq(
    Op("scd1_upsert", "scd.upsert", () => Scd.scd1Upsert(read("dim_seller"),
      Warehouse.dimSeller(Tables(spark, changes)), Seq("seller_id")),
      write("dim_seller_scd1"), "dim_seller_scd1"),
    Op("scd2_rebuild", "scd.rebuild", () => {
      def snap(dir: String, at: String) = Warehouse.dimCustomer(Tables(spark, dir))
        .select(customerCols.map(col) :+ lit(at).as("snap"): _*)
      Scd.scd2Rebuild(snap(scaled, "2020-01-01").unionByName(snap(changes, "2021-01-01")),
        Seq("customer_id"), Seq("segment", "acctbal"), "snap")
    }, write("dim_customer_scd2"), "dim_customer_scd2"),
    Op("cdc_extract", "scd.cdc_extract", () => Scd.extractCdc(
      read("dim_product").select(productCols.map(col): _*), productNext,
      Seq("product_id")), write("product_cdc"), "product_cdc"),
    Op("cdc_apply", "scd.cdc_apply", () => Scd.applyCdc(
      read("dim_product").select(productCols.map(col): _*), read("product_cdc"),
      Seq("product_id"), "op", "op_seq"), write("dim_product_next"), "dim_product_next"))

  /** q18 over the WRITTEN warehouse: fact lines joined back to the
    * customer dimension through the surrogate key, revenue per segment
    * (the shape of `q18_warehouse_build`, whose oracle twin computes
    * the same figures from the raw inputs).
    */
  private def q18Written: DataFrame =
    read("fact_order_lines")
      .join(read("dim_customer").select($"customer_key", $"segment"), Seq("customer_key"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_lines"), graft.functions.Exact.dsum($"price").as("revenue"))

  private val q18Op = Op("q18_warehouse_revenue", "action", () => q18Written, noop)

  /** The ops of one pass, in the seeded order of pass `pass`. Warehouse
    * ops keep their data dependencies: star build (shuffled), then the
    * SCD batch, then the revenue query.
    */
  def pass(workload: String, seed: Long, pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    workload match {
      case "olap_fixed"  => rnd.shuffle(olapQueries.map(query(_, s"$data/fixed")))
      case "olap_scaled" => rnd.shuffle(olapQueries.map(query(_, scaled)))
      case "text_curation" => rnd.shuffle(textQueries.map(query(_, s"$data/text")))
      case "warehouse_load" => rnd.shuffle(starOps) ++ scdOps :+ q18Op
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** The untimed warm-up pass: every op's build and its own action, as
    * a timed pass runs them. Returns the failed ops.
    */
  def warm(ops: Seq[Op]): Seq[String] = ops.flatMap { op =>
    try { op.act(op.build()); None }
    catch { case t: Throwable => Some(s"${op.name}: $t") }
  }

  /** The untimed verification pass, after the warm-up. Query ops with
    * a DuckDB oracle twin write their output to `verify/<name>` (their
    * SQL goes to `verify/oracle_sql.json` for the compare).
    * warehouse_load checks its invariants over the warehouse the
    * warm-up wrote and dumps the revenue query for the oracle compare.
    */
  def verify(workload: String, ops: Seq[Op]): (Seq[String], Seq[Check], Map[String, String]) = {
    val out = s"$work/verify"
    def dump(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name")
    val oracle = ops.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap
    val failed = ops.filter(o => oracle.contains(o.name)).flatMap { op =>
      try { dump(op.name, op.build()); None }
      catch { case t: Throwable => Some(s"${op.name}: $t") }
    }
    if (workload != "warehouse_load") return (failed, Nil, oracle)
    val checks = try {
      dump("q18_warehouse_build", q18Written)
      val open = read("dim_customer_scd2").groupBy($"customer_id")
        .agg(sum(when($"effective_to" === Scd.OpenEnd, 1).otherwise(0)).as("n"))
        .filter($"n" =!= 1).count()
      val applied = read("dim_product_next").drop("last_op")
      val next = productNext
      val diff = applied.exceptAll(next).count() + next.exceptAll(applied).count()
      Seq(
        Check("scd2_one_open_row_per_key", open == 0, s"$open keys without exactly one open row"),
        Check("cdc_roundtrip", diff == 0, s"$diff rows differ from the next snapshot"))
    } catch { case t: Throwable => Seq(Check("warehouse_checks", ok = false, t.toString)) }
    (failed, checks, Map("q18_warehouse_build" -> SparkEntry.oracleSql("q18_warehouse_build")))
  }

  /** Σ C(k,2) over the capped shingle postings of the text corpus: the
    * candidate pairs q13b's pair generation must materialize.
    */
  def q13bCandidatePairs(): Long =
    graft.text.DedupQueries.cappedPostings(spark, Tables(spark, s"$data/text").documents)
      .select(expr("size(ds) * (size(ds) - 1) div 2").as("c"))
      .agg(coalesce(sum($"c"), lit(0L))).head().getLong(0)
}

object Workloads {
  val names = Seq("olap_fixed", "olap_scaled", "warehouse_load", "text_curation")
}
