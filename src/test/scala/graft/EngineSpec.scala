package graft

/** The cluster profile is deployment configuration — it cannot be
  * exercised on local[n] — but its SEMANTIC settings must never drift
  * from the local profile the oracle gates run under, or cluster results
  * would silently diverge from every verified behavior in this repo.
  */
class EngineSpec extends SparkSpec {

  test("clusterConf semantic settings match the oracle-verified local " +
       "profile; scale knobs are present and well-formed") {
    val c = Engine.clusterConf
    for (k <- Seq("spark.sql.session.timeZone",
        "spark.sql.optimizer.excludedRules",
        "spark.sql.legacy.parquet.nanosAsLong"))
      assert(c(k) == spark.conf.get(k), k)
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    // numeric knobs parse, and the advisory size divides the scan split
    // (so one scan task's output never forces an immediate AQE split)
    val advisory = c("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong
    val split = c("spark.sql.files.maxPartitionBytes").toLong
    assert(advisory > 0 && split % advisory == 0)
    assert(c("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .toInt >= 1024)
  }

  test("the profile's runtime knobs are all settable on a live session " +
       "(no typo'd keys, no static-only conf smuggled in)") {
    // A cloned session shares the context but has its own conf; every
    // cluster knob except the static parquet-reader flag must apply
    // cleanly at runtime (a typo'd key or static conf would throw).
    val clone = spark.newSession()
    Engine.clusterConf
      .filterNot(_._1 == "spark.sql.legacy.parquet.nanosAsLong")
      .foreach { case (k, v) => clone.conf.set(k, v) }
    assert(clone.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(clone.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "8192")
    // and the shared test session was not touched
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "8192")
  }

  test("local mode: the caller, RDD tasks and SQL tasks run under one " +
       "class loader, so a generated class compiles once per JVM") {
    import spark.implicits._
    def loaderId: Int =
      System.identityHashCode(Thread.currentThread.getContextClassLoader)
    val caller = Thread.currentThread.getContextClassLoader
    val rdd = spark.sparkContext.parallelize(1 to 4, 4)
      .map(_ => loaderId).collect().toSet
    val sql = spark.range(0, 8, 1, 4).map(_ => loaderId).collect().toSet
    assert(rdd == Set(System.identityHashCode(caller)), s"$caller vs RDD tasks")
    assert(sql == Set(System.identityHashCode(caller)), s"$caller vs SQL tasks")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(!Engine.clusterConf.contains("spark.sql.artifact.isolation.enabled"))
  }
}
