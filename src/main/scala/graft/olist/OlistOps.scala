package graft.olist

import graft.Op
import org.apache.spark.sql.functions._

/** Driver-facing entries for the Olist pipeline. The pipeline runs over the
  * committed seed fixtures plus synthesized stripped seeds — tables the driver's
  * DuckDB oracle does not have — so these are rows-only (`noOracle`) checks;
  * value-level conformance for the same logic is covered by the ScalaTest
  * suite and, structurally, by the TPC-H-shaped oracle ops (j2_fct_orders is
  * the same plan shape with a DuckDB oracle).
  */
object OlistOps {

  /** Scratch warehouse of this JVM: under java.io.tmpdir, keyed by pid
    * like Engine.local's `spark.sql.warehouse.dir`, so no run reads
    * tables an earlier run (or an older build) left behind.
    */
  private[olist] val scratch: String = java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"),
    s"graft-olist-wh-${ProcessHandle.current().pid()}").toString

  val ops: Seq[Op] = Seq(

    // End-to-end: seeds -> staging views -> stored fct_orders (S1, S3, S4,
    // D1-D4 in one pass). Returns the stored gold table.
    Op.noOracle("olist_fct_orders_pipeline") { (s, _) =>
      Pipeline.smoke(s, scratch)
    },

    // D4/D5: the five test nodes evaluated against the stored relation with
    // dbt's severity protocol; one summary row per test. Reuses the stored
    // warehouse when the pipeline op already built it (the build is
    // deterministic, so the result is identical either way); builds it first
    // otherwise, so the op stays self-contained.
    Op.noOracle("olist_tests_gate") { (s, _) =>
      val cat = Models.catalog(s, scratch,
        synthDir = Some(s"$scratch/_synth_seeds"))
      if (!cat.warehouse.exists("fct_orders")) Pipeline.smoke(s, scratch)
      import s.implicits._
      Pipeline.testQueries(cat)
        .map { case (name, q) =>
          val r = graft.checks.Checks.evaluate(q(), warnOnly = true)
          (name, r.failures,
            Pipeline.TestOutcome(name, r).status)
        }
        .toDF("test_name", "failures", "status")
    },

    // S1 visible in isolation: the three committed seed fixtures through
    // the declared-schema ingest (BOM header, quoted zips, null sentinels).
    // ORACLE-EXACT since r12 (VERDICT r11 #6): every CELL of all three
    // seeds round-trips as a (tbl, k, col, val) long-format row and
    // hash-compares against DuckDB's read_csv with the same declared
    // column types and nullstr='' (DuckDB's allow_quoted_nulls default
    // matches Spark's nullValue treating quoted "" as NULL; both
    // readers skip the UTF-8 BOM; quoted zips stay VARCHAR with leading
    // zeros on both sides; integer cells render identically via
    // CAST(... AS VARCHAR)). This is the full value surface of the
    // agate-ladder-replacement contract (SURVEY §7.4(1)), not a count
    // summary.
    Op("olist_seed_ingest", {
      def rc(file: String, cols: Seq[(String, String)]): String =
        s"""read_csv('${Seeds.fixturesDir}/$file.csv',
           |  header=true, nullstr='',
           |  columns={${cols.map { case (c, t) => s"'$c': '$t'" }
                          .mkString(", ")}})""".stripMargin
      val pCols = Seq("product_id" -> "VARCHAR",
        "product_category_name" -> "VARCHAR",
        "product_name_lenght" -> "INTEGER",
        "product_description_lenght" -> "INTEGER",
        "product_photos_qty" -> "INTEGER",
        "product_weight_g" -> "INTEGER",
        "product_length_cm" -> "INTEGER",
        "product_height_cm" -> "INTEGER",
        "product_width_cm" -> "INTEGER")
      val sCols = Seq("seller_id" -> "VARCHAR",
        "seller_zip_code_prefix" -> "VARCHAR",
        "seller_city" -> "VARCHAR", "seller_state" -> "VARCHAR")
      val tCols = Seq("product_category_name" -> "VARCHAR",
        "product_category_name_english" -> "VARCHAR")
      def unpivot(tbl: String, src: String, k: String,
                  cols: Seq[(String, String)]): String =
        cols.filter(_._1 != k).map { case (c, t) =>
          val v = if (t == "VARCHAR") c else s"CAST($c AS VARCHAR)"
          s"""SELECT '$tbl' AS tbl, $k AS k, '$c' AS col, $v AS val
             |FROM $src""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH p AS (SELECT * FROM ${rc("olist_products_dataset", pCols)}),
         |sl AS (SELECT * FROM ${rc("olist_sellers_dataset", sCols)}),
         |tr AS (SELECT * FROM ${rc("product_category_name_translation",
                                    tCols)})
         |${unpivot("products", "p", "product_id", pCols)}
         |UNION ALL
         |${unpivot("sellers", "sl", "seller_id", sCols)}
         |UNION ALL
         |${unpivot("translation", "tr", "product_category_name", tCols)}"""
        .stripMargin
    }) { (s, _) =>
      val products = Seeds.readCsv(s, Seeds.fixturesDir,
        "olist_products_dataset")
      val sellers = Seeds.readCsv(s, Seeds.fixturesDir,
        "olist_sellers_dataset")
      val xlat = Seeds.readCsv(s, Seeds.fixturesDir,
        "product_category_name_translation")
      def unpivot(tbl: String, df: org.apache.spark.sql.DataFrame,
                  k: String): org.apache.spark.sql.DataFrame = {
        val vals = df.schema.fields.filter(_.name != k).flatMap(f =>
          Seq(s"'${f.name}'", s"cast(`${f.name}` as string)"))
        df.selectExpr(s"'$tbl' as tbl", s"`$k` as k",
          s"stack(${vals.length / 2}, ${vals.mkString(", ")}) as (col, val)")
      }
      unpivot("products", products, "product_id")
        .unionByName(unpivot("sellers", sellers, "seller_id"))
        .unionByName(unpivot("translation", xlat, "product_category_name"))
    },

    // --- semantic layer (dbt metrics) ------------------------------------

    // One governed metric definition compiled to a grouped plan: revenue
    // (decimal-exact sum presented as double) at month grain sliced by
    // order status. The oracle is the same aggregation hand-written.
    Op("m_revenue_monthly",
       """SELECT date_trunc('month', o_orderdate) AS metric_time,
         |       o_orderstatus,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS revenue
         |FROM orders GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Metrics.query(graft.Tables.orders(s, d), revenueMetric,
        grain = "month", dims = Seq("o_orderstatus"))
    },

    // Derived ratio metric in ONE aggregation pass: average order value =
    // decimal-exact revenue / order count per quarter (single division of
    // deterministic aggregates -> bit-exact replay).
    Op("m_avg_order_value",
       """SELECT metric_time,
         |       revenue / n_orders AS avg_order_value
         |FROM (
         |  SELECT date_trunc('quarter', o_orderdate) AS metric_time,
         |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |           AS revenue,
         |         count(*) AS n_orders
         |  FROM orders GROUP BY 1)""".stripMargin) { (s, d) =>
      Metrics.ratio(graft.Tables.orders(s, d), "avg_order_value",
        num = revenueMetric, den = orderCountMetric, grain = "quarter")
    }
  )

  /** The demo metric definitions the semantic-layer entries compile. */
  private val revenueMetric = Metrics.Metric(
    name = "revenue", agg = "sum",
    measure = col("o_totalprice").cast("decimal(18,2)"),
    timeDim = "o_orderdate",
    dims = Set("o_orderstatus", "o_orderpriority"),
    present = _.cast("double"))

  private val orderCountMetric = Metrics.Metric(
    name = "n_orders", agg = "count", measure = lit(1),
    timeDim = "o_orderdate",
    dims = Set("o_orderstatus", "o_orderpriority"))
}
