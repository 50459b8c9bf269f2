package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger scale factor from driver testdata by key-offset
  * replication — the scale-evidence harness (the driver ships
  * sf0.001/0.01/0.1; the 100-TB design claims need at least one
  * measured 10× datapoint). Each replica is an INDEPENDENT copy:
  *
  *  - fact/dim keys offset per replica so joins stay consistent and
  *    selectivities match the original (customer/orders/lineitem/
  *    part/supplier/events key families move together);
  *  - `region`/`nation` stay single (true dimensions);
  *  - `documents` text is word-tagged per replica (`w~i`) so the
  *    intra-replica duplicate/near-duplicate structure is preserved
  *    EXACTLY while replicas never near-match each other — naive
  *    copying would give every doc 9 artificial near-dups and blow
  *    the candidate-pair count quadratically, measuring the wrong
  *    thing;
  *  - `embeddings` vectors circular-shift per replica (same norm,
  *    decorrelated directions) for the same reason.
  *
  * Usage: {{{ runMain graft.tools.ScaleUp <srcDir> <outDir> [factor] }}}
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <outDir> [factor]")
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Harness.session()
    run(spark, src, out, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")

    // key spans (next power-of-10 above the max key, so offset blocks
    // never collide and keys stay human-readable)
    def span(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    val custS = span(tbl("customer"), "c_custkey")
    val suppS = span(tbl("supplier"), "s_suppkey")
    val partS = span(tbl("part"), "p_partkey")
    val ordS = span(tbl("orders"), "o_orderkey")
    val evS = span(tbl("events"), "event_id")
    val userS = span(tbl("events"), "user_id")
    val docS = span(tbl("documents"), "doc_id")
    val vecS = span(tbl("embeddings"), "vec_id")

    /** Union `factor` replicas of `df`, transformed per replica id. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)

    def off(c: String, s: Long, i: Int) = col(c) + lit(s * i)

    def write(n: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[scaleup] $n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }

    write("region", tbl("region"))
    write("nation", tbl("nation"))
    write("customer", replicate(tbl("customer")) { (d, i) =>
      d.withColumn("c_custkey", off("c_custkey", custS, i))
        .withColumn("c_name", concat(col("c_name"), lit(s"#r$i")))
    })
    write("supplier", replicate(tbl("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", off("s_suppkey", suppS, i))
        .withColumn("s_name", concat(col("s_name"), lit(s"#r$i")))
    })
    write("part", replicate(tbl("part")) { (d, i) =>
      d.withColumn("p_partkey", off("p_partkey", partS, i))
    })
    write("orders", replicate(tbl("orders")) { (d, i) =>
      d.withColumn("o_orderkey", off("o_orderkey", ordS, i))
        .withColumn("o_custkey", off("o_custkey", custS, i))
    })
    write("lineitem", replicate(tbl("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", off("l_orderkey", ordS, i))
        .withColumn("l_partkey", off("l_partkey", partS, i))
        .withColumn("l_suppkey", off("l_suppkey", suppS, i))
    })
    write("events", replicate(tbl("events")) { (d, i) =>
      d.withColumn("event_id", off("event_id", evS, i))
        .withColumn("user_id", off("user_id", userS, i))
    })
    write("documents", replicate(tbl("documents")) { (d, i) =>
      // the tag must MERGE into the word token ("wordx3"), not ride as
      // a separator-delimited suffix ("word~3"): the engines tokenize
      // on [^a-z0-9]+, so a separated tag becomes its own token
      // between every word and degrades every 3-gram shingle to an
      // effective 2-gram — measured at 10×: bigram df explodes on the
      // small vocabulary, turning real dup pairs viral-only and
      // destroying the intra-replica structure this tool promises to
      // preserve. Suffix-merged tags keep each replica's shingle sets
      // isomorphic to the base (word → wordxI bijection): per-replica
      // df EXACTLY equals base df, replicas never share a shingle.
      val t = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", "$1x" + i)
      d.withColumn("doc_id", off("doc_id", docS, i)).withColumn("text", t)
    })
    write("embeddings", replicate(tbl("embeddings")) { (d, i) =>
      val dim = size(col("embedding"))
      val shift = lit(i * 7 + (if (i == 0) 0 else 1)) % dim
      val rolled =
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
                    slice(col("embedding"), lit(1), shift))
      // rotation alone repeats every `dim` replicas (factor > 64 would
      // hand replicas i and i+64 IDENTICAL transforms → artificial
      // cross-replica exact dups). Compose a per-replica deterministic
      // ±1 sign pattern: D_i·R_i is orthogonal, so every intra-replica
      // pairwise cosine is preserved EXACTLY while any two replicas'
      // transforms differ (sign patterns collide with prob 2^-64).
      val signed =
        if (i == 0) rolled
        else transform(rolled, (x, k) =>
          when(pmod(xxhash64(lit(i), k), lit(2)) === 0, x).otherwise(-x))
      d.withColumn("vec_id", off("vec_id", vecS, i))
        .withColumn("embedding", signed)
    })
  }
}
