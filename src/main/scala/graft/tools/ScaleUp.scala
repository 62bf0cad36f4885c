package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generate a larger synthetic scale factor by key-shifted replication of
  * an existing testdata directory — the standard TPC-H-style scale-up
  * shape: every replica k shifts each PRIMARY key by k×(keySpan) and
  * every FOREIGN key by the same span, so referential integrity (and
  * therefore every join's selectivity profile) is preserved exactly while
  * fact-table cardinality grows ×factor. Dimension tables (region,
  * nation) stay fixed, as TPC-H scaling does.
  *
  * Purpose: the sf1 SCALE PROBE — a second measured data point above the
  * driver's sf0.1, so "flat across SFs = fixed overhead" claims rest on
  * measurement, not extrapolation. This writes DERIVED benchmark inputs
  * under the repo's own target dir; correctness runs keep using the
  * driver-provided parquet unmodified.
  *
  * Replication is fully distributed: each table cross-joins a tiny
  * replica-index range (broadcast, factor rows) and shifts key columns —
  * no driver-side data, no skew (each replica inherits the source's
  * distribution). Text gets a per-replica suffix and embeddings a
  * per-replica first-component nudge so dedup/ANN workloads scale as
  * near-duplicate work instead of degenerate exact-duplicate blowup.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // key spans from the SOURCE (testdata keys are dense 0..N-1, but max+1
    // is correct even if they weren't)
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    val reps = spark.range(factor).toDF("_k")
    // cross join with the factor-row replica index is broadcast by size;
    // shift the named keys by _k * span, keep everything else
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shifted = shifts.foldLeft(df.crossJoin(broadcast(reps))) {
        case (d, (c, s)) => d.withColumn(c, col(c) + col("_k") * s)
      }
      shifted
    }
    def write(df: DataFrame, name: String): Unit = {
      df.drop("_k").write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"  $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    val (customer, supplier, part, orders, lineitem, events, documents, embeddings) =
      (tbl("customer"), tbl("supplier"), tbl("part"), tbl("orders"),
        tbl("lineitem"), tbl("events"), tbl("documents"), tbl("embeddings"))
    val (cN, sN, pN, oN) = (span(customer, "c_custkey"), span(supplier, "s_suppkey"),
      span(part, "p_partkey"), span(orders, "o_orderkey"))

    // dimensions copy through unchanged
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(customer, "c_custkey" -> cN), "customer")
    write(replicate(supplier, "s_suppkey" -> sN), "supplier")
    write(replicate(part, "p_partkey" -> pN), "part")
    write(replicate(orders, "o_orderkey" -> oN, "o_custkey" -> cN), "orders")
    write(replicate(lineitem, "l_orderkey" -> oN, "l_partkey" -> pN,
      "l_suppkey" -> sN), "lineitem")
    write(replicate(events, "event_id" -> span(events, "event_id"),
      "user_id" -> span(events, "user_id")), "events")
    // replica text is a NEAR-duplicate (suffix), not an exact one: exact-dup
    // groups of size factor would square pair counts in minhash banding
    write(replicate(documents, "doc_id" -> span(documents, "doc_id"))
        .withColumn("text",
          when(col("_k") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" replica"), col("_k"))))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")
    // nudge the first component per replica so ANN/near-dup workloads see
    // distinct-but-close vectors, not factor-sized exact-duplicate groups
    write(replicate(embeddings, "vec_id" -> span(embeddings, "vec_id"))
        .withColumn("embedding",
          when(col("_k") === 0, col("embedding"))
            .otherwise(concat(
              array((element_at(col("embedding"), 1) +
                col("_k").cast("float") * lit(1e-3f)).cast("float")),
              slice(col("embedding"), lit(2),
                greatest(size(col("embedding")) - 1, lit(0)))))),
      "embeddings")
    spark.stop()
  }
}
