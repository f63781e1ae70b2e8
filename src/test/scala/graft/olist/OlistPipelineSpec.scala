package graft.olist

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end test of the Olist pipeline: seeds -> staging ->
  * stored fct_orders -> test gate, plus the semantically risky spots from
  * SURVEY §7.4 (NULL revenue for item-less orders, left-join row
  * preservation, dbt --select semantics).
  */
class OlistPipelineSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft_olist_test").toString
  private lazy val cat =
    Models.catalog(spark, wh, synthDir = Some(s"$wh/_synth_seeds"))
  private lazy val result = Pipeline.runAll(cat, s"$wh/_synth_seeds", nOrders = 600L)

  test("pipeline builds seeds, staging, and the stored mart") {
    assert(result.buildOk)
    assert(result.built.last == "fct_orders")
    assert(cat.warehouse.exists("fct_orders"))
    assert(cat.warehouse.exists("olist_orders_dataset"))
  }

  test("olist_tests_gate builds fct_orders into its own empty per-run " +
       "scratch warehouse, never a table an earlier run left behind") {
    val scratch = new java.io.File(OlistOps.scratch)
    assert(scratch.getParentFile ==
        new java.io.File(System.getProperty("java.io.tmpdir")) &&
      scratch.getName.endsWith("-" + ProcessHandle.current().pid()),
      s"scratch is not per-run: $scratch")
    // this JVM owns the dir; start the gate from an empty one
    org.apache.commons.io.FileUtils.deleteDirectory(scratch)
    val rows = graft.SparkEntry.queries("olist_tests_gate")(spark, "")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(new java.io.File(scratch, "fct_orders").isDirectory)
    assert(rows.keySet == Pipeline.testQueries(
      Models.catalog(spark, OlistOps.scratch)).map(_._1).toSet)
    assert(rows.values.forall(_ == "pass"), rows)
  }

  test("left joins preserve every order (J1/J2 row preservation)") {
    val nOrders = cat.ref("olist_orders_dataset").count()
    assert(cat.warehouse.load("fct_orders").count() == nOrders)
  }

  test("orders without items keep NULL total_order_value, not 0 (E1 3VL)") {
    val fct = cat.warehouse.load("fct_orders")
    val itemless = fct.filter(col("total_item_revenue").isNull)
    assert(itemless.count() > 0, "synth data should include item-less orders")
    assert(itemless.filter(col("total_order_value").isNotNull).count() == 0)
    assert(fct.filter(col("total_order_value") === 0).count() == 0)
  }

  test("fct totals equal an independently computed aggregate (golden values)") {
    val items = cat.ref("stg_items")
    val expected = items.agg(sum("price")).head.getDecimal(0)
    val got = cat.warehouse.load("fct_orders")
      .agg(sum("total_item_revenue")).head.getDecimal(0)
    assert(expected.compareTo(got) == 0,
      s"sum(price)=$expected != sum(total_item_revenue)=$got")
  }

  test("all five reference test nodes pass on the built mart (D4)") {
    assert(result.tests.map(_.name).toSet.size == 5)
    assert(result.testsOk, result.tests.map(t => s"${t.name}=${t.status}"))
  }

  test("a failing test warns, not errors, under dbt's pipeline gate (D5)") {
    // Orders with items always have total >= 5 in synth data; invert the
    // singular predicate so it must fail, then check warn-only gating.
    val fct = cat.warehouse.load("fct_orders")
    val failing = graft.checks.Checks.singular(fct, col("total_order_value") > 0)
    val r = graft.checks.Checks.evaluate(failing, warnOnly = true)
    assert(r.isInstanceOf[graft.checks.Checks.Warn])
  }

  test("ref() to an unregistered model fails like dbt's missing-node error") {
    intercept[NoSuchElementException](cat.ref("stg_customers"))
  }

  test("--select without upstream requires stored seeds (dbt semantics, D3)") {
    val emptyWh = Files.createTempDirectory("graft_olist_empty").toString
    val freshCat = Models.catalog(spark, emptyWh)
    intercept[IllegalStateException](
      freshCat.run(Seq("fct_orders"), withUpstream = false))
  }

  test("re-running just the mart reuses stored seeds (idempotent rebuild)") {
    val before = cat.warehouse.load("fct_orders").count()
    cat.run(Seq("fct_orders"), withUpstream = false)
    assert(cat.warehouse.load("fct_orders").count() == before)
  }

  test("parallel run: diamond DAG builds dependency-ordered under a " +
       "thread pool (D2, dbt threads semantics)") {
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val whP = Files.createTempDirectory("graft_diamond").toString
    val events =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    def mk(name: String, deps: Seq[String])(
        f: Map[String, DataFrame] => DataFrame) =
      Model(name, deps, Materialization.Table,
        m => { events.add(name); f(m) })
    val models = Seq(
      mk("base", Nil)(_ => (1 to 100).toDF("x")),
      mk("left", Seq("base"))(m => m("base").withColumn("y", col("x") * 2)),
      mk("right", Seq("base"))(m => m("base").withColumn("y", col("x") * 3)),
      mk("top", Seq("left", "right"))(m =>
        m("left").unionByName(m("right"))))
    val dcat = new Catalog(spark, new Warehouse(spark, whP), models)
    val ran = dcat.run(Seq("top"), withUpstream = true, threads = 4)
    assert(ran == Seq("base", "left", "right", "top"))
    assert(dcat.warehouse.load("top").count() == 200)
    // builds happened dependency-first even though left/right ran
    // concurrently on the pool
    val idx = events.asScala.zipWithIndex.toMap
    assert(idx("base") < idx("left") && idx("base") < idx("right"))
    assert(idx("top") > idx("left") && idx("top") > idx("right"))
  }

  test("downstream selection (model+) rebuilds dependents, not ancestors") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val whP = Files.createTempDirectory("graft_down").toString
    def mk(name: String, deps: Seq[String]) =
      Model(name, deps, Materialization.Table,
        (m: Map[String, DataFrame]) =>
          m.values.headOption.getOrElse((1 to 5).toDF("x")))
    val dcat = new Catalog(spark, new Warehouse(spark, whP), Seq(
      mk("a", Nil), mk("b", Seq("a")), mk("c", Seq("b")), mk("d", Nil)))
    dcat.run(Seq("a"), withUpstream = true) // seed a so b can read it
    val order = dcat.topo(Seq("b"), withUpstream = false,
      withDownstream = true)
    assert(order == Seq("b", "c")) // dependents follow, 'a' and 'd' excluded
    val ran = dcat.run(Seq("b"), withDownstream = true)
    assert(ran == Seq("b", "c") && dcat.warehouse.exists("c"))
  }

  test("tag: selection, +/+ affixes, and --exclude (dbt node selection)") {
    // tag:staging selects exactly the three staging views
    assert(cat.topo(Seq("tag:staging"), withUpstream = false).toSet ==
      Set("stg_olist_orders", "stg_olist_customers", "stg_items"))
    // +fct_orders excluding tag:staging keeps seeds + mart, drops views
    val noStaging = cat.topo(Seq("+fct_orders"), withUpstream = false,
      exclude = Seq("tag:staging"))
    assert(noStaging.contains("fct_orders") &&
      noStaging.contains("olist_orders_dataset") &&
      !noStaging.exists(_.startsWith("stg_")), noStaging)
    // name exclusion
    assert(cat.topo(Seq("tag:staging"), withUpstream = false,
      exclude = Seq("stg_items")).toSet ==
      Set("stg_olist_orders", "stg_olist_customers"))
    // affix syntax matches the flag form
    assert(cat.topo(Seq("stg_items+"), withUpstream = false) ==
      cat.topo(Seq("stg_items"), withUpstream = false, withDownstream = true))
    assert(cat.topo(Seq("+fct_orders"), withUpstream = false) ==
      cat.topo(Seq("fct_orders"), withUpstream = true))
    // unknown model name still errors like dbt's missing-node compile error
    intercept[NoSuchElementException](
      cat.topo(Seq("tag_typo_model"), withUpstream = false))
  }

  test("degree-bounded affixes and comma intersection (dbt selector " +
       "syntax: n+sel, sel+n, a,b)") {
    // 1+fct_orders: the mart and its DIRECT parents only — no seeds
    assert(cat.topo(Seq("1+fct_orders"), withUpstream = false).toSet ==
      Set("fct_orders", "stg_olist_orders", "stg_olist_customers",
        "stg_items"))
    // 2+fct_orders adds the seeds those staging views read
    val two = cat.topo(Seq("2+fct_orders"), withUpstream = false).toSet
    assert(two.contains("olist_orders_dataset") &&
      two.contains("olist_customers_dataset") &&
      two.contains("olist_order_items_dataset"), two)
    // unbounded affix == big-enough degree
    assert(cat.topo(Seq("+fct_orders"), withUpstream = false).toSet ==
      cat.topo(Seq("99+fct_orders"), withUpstream = false).toSet)
    // bounded downstream: seeds' direct children are the staging views
    assert(cat.topo(Seq("olist_orders_dataset+1"),
      withUpstream = false).toSet ==
      Set("olist_orders_dataset", "stg_olist_orders"))
    // comma = intersection: staging models that are ALSO ancestors of
    // the mart (all three), and an intersection that is empty
    assert(cat.topo(Seq("tag:staging,+fct_orders"),
      withUpstream = false).toSet ==
      Set("stg_olist_orders", "stg_olist_customers", "stg_items"))
    assert(cat.topo(Seq("tag:staging,tag:seed"),
      withUpstream = false).isEmpty)
    // union across separate selectors still works beside intersection
    assert(cat.topo(Seq("stg_items", "tag:staging,tag:seed"),
      withUpstream = false) == Seq("stg_items"))
    // @stg_items: itself + descendants (fct_orders) + the descendants'
    // FULL ancestry (the other staging views and all their seeds)
    val at = cat.topo(Seq("@stg_items"), withUpstream = false).toSet
    assert(at.contains("fct_orders") && at.contains("stg_olist_orders") &&
      at.contains("olist_orders_dataset") && at.contains("stg_items"), at)
    assert(at == cat.topo(Seq("+fct_orders"), withUpstream = false).toSet,
      "in this graph @stg_items equals fct_orders' full ancestry")
  }

  test("parallel run failure in one node aborts the run (dbt error gate)") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val whP = Files.createTempDirectory("graft_fail").toString
    val models = Seq(
      Model("ok", Nil, Materialization.Table,
        (_: Map[String, DataFrame]) => (1 to 10).toDF("x")),
      Model("boom", Nil, Materialization.Table,
        (_: Map[String, DataFrame]) => sys.error("node failure")))
    val fcat = new Catalog(spark, new Warehouse(spark, whP), models)
    intercept[RuntimeException](
      fcat.run(Seq("ok", "boom"), withUpstream = true, threads = 2))
  }
}
