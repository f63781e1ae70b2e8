package graft.olist

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S1 ingest edge cases from SURVEY §7.4(1), against the three committed
  * seed fixtures (`seeds/` at the repo root), which keep the real files'
  * quirks: empty category cells, quoted zips with leading zeros, and a
  * UTF-8 BOM header.
  */
class SeedsSpec extends SparkSpec {

  test("products: 24 rows, empty category -> NULL (null sentinel)") {
    val p = Seeds.readCsv(spark, Seeds.fixturesDir,
      "olist_products_dataset")
    assert(p.count() == 24)
    // The fixture has rows with empty category cells; nullValue "" must
    // surface them as NULLs, like agate's ("null","") sentinel set.
    assert(p.filter(col("product_category_name").isNull).count() > 0)
    assert(p.schema("product_weight_g").dataType.typeName == "integer")
  }

  test("sellers: 12 rows, quoted zip codes keep leading zeros") {
    val s = Seeds.readCsv(spark, Seeds.fixturesDir,
      "olist_sellers_dataset")
    assert(s.count() == 12)
    assert(s.filter(length(col("seller_zip_code_prefix")) =!= 5).count() == 0)
    assert(s.filter(col("seller_zip_code_prefix").startsWith("0")).count() > 0)
  }

  test("category translation: BOM header does not corrupt the first column") {
    val x = Seeds.readCsv(spark, Seeds.fixturesDir,
      "product_category_name_translation")
    assert(x.count() == 12)
    assert(x.filter(col("product_category_name") === "beleza_saude").count() == 1)
    assert(x.filter(col("product_category_name").isNull).count() == 0)
  }

  test("synthesized seeds round-trip the CSV path with NULL timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_synth").toString
    Seeds.synthesizeCsv(spark, dir, nOrders = 300L)
    val o = Seeds.readCsv(spark, dir, "olist_orders_dataset")
    assert(o.count() == 300)
    assert(o.filter(col("order_approved_at").isNull).count() > 0,
      "some orders must have NULL approved_at after the CSV round-trip")
    val i = Seeds.readCsv(spark, dir, "olist_order_items_dataset")
    assert(i.schema("price").dataType.typeName == "decimal(12,2)")
    // determinism: same generator inputs -> identical ids
    val dir2 = java.nio.file.Files.createTempDirectory("graft_synth2").toString
    Seeds.synthesizeCsv(spark, dir2, nOrders = 300L)
    val o2 = Seeds.readCsv(spark, dir2, "olist_orders_dataset")
    assert(o.select("order_id").except(o2.select("order_id")).count() == 0)
  }
}
