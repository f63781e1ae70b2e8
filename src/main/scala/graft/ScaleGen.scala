package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic testdata scaler for the sf1 scaling probe (VERDICT r9
  * "Next round" #2): `runMain graft.ScaleGen <srcSfDir> <outDir> [factor]`
  * writes `factor` structurally-independent copies of the source tables
  * with remapped keys, so per-operator cost curves can be measured one
  * decade above the driver's largest sf without touching the read-only
  * driver testdata.
  *
  * Design choices (what the probe is FOR — engine scaling, not data
  * novelty):
  *   - every key k remaps to k·factor + copy on BOTH sides of each
  *     relationship, so joins stay consistent and the relational graph
  *     becomes `factor` disjoint copies — round counts of iterative
  *     kernels stay those of the base sf, so slopes isolate PER-ROUND
  *     cost scaling (the planner/shuffle behavior the probe targets);
  *   - nation/region stay fixed (they are fixed-size dimensions at any
  *     TPC-H sf), so blocking-key cardinality does NOT grow: blocked
  *     linkage is EXPECTED to scale with Σ block² = factor², and the
  *     probe should measure exactly that, not hide it;
  *   - customer names get a 2-char copy salt (levenshtein 2 between
  *     copies > the linkage verify bound 1) so copies do not cross-link;
  *   - every 5th document token gets a copy salt, pushing cross-copy
  *     token-shingle jaccard far below dedup thresholds — near-dup
  *     workloads grow by data volume, not by an artificial factor-sized
  *     duplicate clique per document;
  *   - embeddings rotate by copy positions — norms and per-dim
  *     distributions survive, cross-copy cosines collapse, and the
  *     vec_id 0..k seed rows k-means/IVF depend on keep copy 0's
  *     vectors (id·factor keeps id order for copy 0).
  */
object ScaleGen {

  private def copies(spark: SparkSession, factor: Int): DataFrame = {
    import spark.implicits._
    (0 until factor).toDF("copy")
  }

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = Engine.defaultCores
    val spark = Engine.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val cp = copies(spark, factor)
    def remap(c: String) = col(c) * factor + col("copy")

    def write(name: String, df: DataFrame): Unit = {
      // Write the big tables as `cpus` files, not one (r14): a single
      // snappy parquet file has ~one 128 MB row group per 128 MB, so a
      // one-file sf10 table caps every downstream SCAN stage at 1-6
      // tasks regardless of core count (measured: f_bootstrap_ci flat
      // 69 s at 8 AND 32 cores over the old single-file orders).
      // Deterministic content, deterministic per-file assignment
      // (repartition by the remapped keys is a hash of the rows);
      // row SETS are unchanged so every consumer is unaffected.
      df.repartition(cpus).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> ${Tables.parquet(spark, s"$out/$name.parquet").count()} rows")
    }

    // fixed-size dimensions pass through untouched
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))

    write("customer", Tables.customer(spark, src).crossJoin(cp).select(
      remap("c_custkey").as("c_custkey"),
      concat(col("c_name"), lit(" "), col("copy"), col("copy"))
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))

    write("supplier", Tables.supplier(spark, src).crossJoin(cp).select(
      remap("s_suppkey").as("s_suppkey"),
      concat(col("s_name"), lit(" "), col("copy"), col("copy"))
        .as("s_name"),
      col("s_nationkey"), col("s_acctbal")))

    write("part", Tables.part(spark, src).crossJoin(cp).select(
      remap("p_partkey").as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")))

    write("orders", Tables.orders(spark, src).crossJoin(cp).select(
      remap("o_orderkey").as("o_orderkey"),
      remap("o_custkey").as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))

    write("lineitem", Tables.lineitem(spark, src).crossJoin(cp).select(
      remap("l_orderkey").as("l_orderkey"),
      remap("l_partkey").as("l_partkey"),
      remap("l_suppkey").as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    write("events", Tables.events(spark, src).crossJoin(cp).select(
      remap("event_id").as("event_id"),
      col("ts"),
      remap("user_id").as("user_id"),
      col("event_type"), col("value"), col("props")))

    // documents: salt every 5th token with the copy id so cross-copy
    // shingle jaccard lands far below every dedup threshold
    write("documents", Tables.documents(spark, src).crossJoin(cp).select(
      remap("doc_id").as("doc_id"),
      array_join(zip_with(
          split(col("text"), " "),
          sequence(lit(0),
            greatest(size(split(col("text"), " ")) - 1, lit(0))),
          (w, i) => when(i % 5 === 4,
            concat(w, lit("z"), col("copy"))).otherwise(w)),
        " ").as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: rotate by (copy % dim) positions — norm-preserving,
    // cosine between copies collapses to ~0. Once factor exceeds dim
    // the rotation wraps (copy 64 would otherwise slice a negative
    // length — the r12 sf10 probe hit exactly that), so each wrap also
    // flips the sign of every entry: a row's copy-64 twin is then the
    // NEGATION of its copy-0 self (cosine −1), never an exact
    // duplicate that would hand near-dup workloads an artificial
    // clique. Norms and per-dim magnitude distributions still survive.
    val dim = 64
    require(factor <= 2 * dim,
      s"embedding rotation supports at most ${2 * dim} copies " +
        "(one rotation cycle per sign); raise dim handling first")
    val rot = col("copy") % dim
    val flip = (lit(1) - floor(col("copy") / dim) % 2 * 2).cast("float")
    write("embeddings", Tables.embeddings(spark, src).crossJoin(cp)
      .select(
        remap("vec_id").as("vec_id"),
        transform(
          concat(
            slice(col("embedding"), rot + 1, lit(dim) - rot),
            slice(col("embedding"), lit(1), rot)),
          x => x * flip).as("embedding"),
        col("label")))

    spark.stop()
  }
}
