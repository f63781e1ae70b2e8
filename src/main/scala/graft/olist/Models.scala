package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's model DAG, re-expressed as DataFrame transforms.
  *
  * Layout mirrors the medallion layers (reference: README.md:26-52): seeds
  * (bronze) -> three staging views (silver) -> fct_orders table (gold).
  */
object Models {

  /** Silver: models/staging/stg_olist_orders.sql:1-14 — projection + renames,
    * no casts (types come from the declared seed schemas).
    */
  def stgOlistOrders(raw: DataFrame): DataFrame =
    raw.select(
      col("order_id"),
      col("customer_id"),
      col("order_status"),
      col("order_purchase_timestamp").as("purchased_at"),
      col("order_approved_at").as("approved_at"),
      col("order_delivered_carrier_date").as("delivered_to_carrier_at"),
      col("order_delivered_customer_date").as("delivered_to_customer_at"),
      col("order_estimated_delivery_date").as("estimated_delivery_at"))

  /** Silver: models/staging/stg_olist_customers.sql:1-11. */
  def stgOlistCustomers(raw: DataFrame): DataFrame =
    raw.select(
      col("customer_id"),
      col("customer_unique_id"),
      col("customer_zip_code_prefix").as("zip_code"),
      col("customer_city").as("city"),
      col("customer_state").as("state"))

  /** Silver: models/staging/stg_items.sql:1-11. */
  def stgItems(raw: DataFrame): DataFrame =
    raw.select(
      col("order_id"),
      col("order_item_id"),
      col("product_id"),
      col("price"),
      col("freight_value").as("shipping_cost"))

  /** Gold: models/marts/fct_orders.sql:1-30 — per-order item aggregation,
    * two left joins back to orders, NULL-propagating derived total (orders
    * with no items keep NULL revenue, not 0 — SURVEY §7.4(4)).
    *
    * Scale notes: the aggregation is partial map-side before its shuffle;
    * both joins key on high-cardinality ids and AQE picks broadcast vs
    * sort-merge (customers scales with orders, so no forced broadcast). All
    * money math is exact decimal.
    */
  def fctOrders(orders: DataFrame, customers: DataFrame,
                items: DataFrame): DataFrame = {
    val orderItems = items
      .groupBy("order_id")
      .agg(
        sum("price").as("total_item_revenue"),
        sum("shipping_cost").as("total_shipping_revenue"))
    orders.as("o")
      .join(customers.as("c"), Seq("customer_id"), "left")
      .join(orderItems.as("i"), Seq("order_id"), "left")
      .select(
        col("order_id"),
        col("customer_id"),
        col("o.order_status"),
        col("o.purchased_at"),
        col("c.city"),
        col("c.state"),
        col("i.total_item_revenue"),
        col("i.total_shipping_revenue"),
        (col("i.total_item_revenue") + col("i.total_shipping_revenue"))
          .as("total_order_value"))
  }

  /** Full registry: 6 seeds + 3 staging views + 1 mart table (D1). */
  def catalog(spark: SparkSession, warehouseDir: String,
              seedsDir: String = Seeds.fixturesDir,
              synthDir: Option[String] = None): Catalog = {
    val wh = new Warehouse(spark, warehouseDir)
    def seed(name: String, dir: => String): Model =
      Model(name, Nil, Materialization.Seed,
        _ => Seeds.readCsv(spark, dir, name), tags = Set("seed"))
    val synth = synthDir.getOrElse(s"$warehouseDir/_synth_seeds")
    // layer tags mirror dbt_project.yml's medallion folders, selectable
    // via `tag:staging` / `tag:mart` like dbt's tag: method
    val models = Seq(
      seed("olist_products_dataset", seedsDir),
      seed("olist_sellers_dataset", seedsDir),
      seed("product_category_name_translation", seedsDir),
      seed("olist_customers_dataset", synth),
      seed("olist_orders_dataset", synth),
      seed("olist_order_items_dataset", synth),
      Model("stg_olist_orders", Seq("olist_orders_dataset"),
        Materialization.View, d => stgOlistOrders(d("olist_orders_dataset")),
        tags = Set("staging")),
      Model("stg_olist_customers", Seq("olist_customers_dataset"),
        Materialization.View, d => stgOlistCustomers(d("olist_customers_dataset")),
        tags = Set("staging")),
      Model("stg_items", Seq("olist_order_items_dataset"),
        Materialization.View, d => stgItems(d("olist_order_items_dataset")),
        tags = Set("staging")),
      Model("fct_orders",
        Seq("stg_olist_orders", "stg_olist_customers", "stg_items"),
        Materialization.Table,
        d => fctOrders(d("stg_olist_orders"), d("stg_olist_customers"),
          d("stg_items")),
        tags = Set("mart")))
    // the reference's two Power BI dashboards read from the mart
    // (reference: README.md dashboard_final.jpg / dashboard_sp_analysis.jpg)
    val exposures = Seq(
      Exposure("orders_dashboard", "dashboard", "analytics",
        Seq("fct_orders"), maturity = "high"),
      Exposure("sp_analysis_dashboard", "dashboard", "analytics",
        Seq("fct_orders")))
    new Catalog(spark, wh, models, exposures = exposures)
  }
}
