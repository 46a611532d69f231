package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for scale-evidence runs: writes N
  * deterministic mutated replicas of the similarity-workload tables
  * (documents, embeddings, customer) so the heavy queries can be timed
  * at 10× sf0.1 without new source data.
  *
  * Replicas are DISJOINT in shingle and bucket space — every word
  * carries a replica tag, embeddings get per-element deterministic
  * hash noise — because naive row duplication would multiply every
  * shingle's document frequency by N and make the near-dup workload
  * QUADRATICALLY harder than a real 10× corpus (each clique of N
  * identical docs is N²/2 candidate pairs). The goal is 10× the rows
  * with the same distributional profile, which is what a real corpus
  * scale-up looks like.
  *
  * Usage: GenScale <srcSfDir> <outDir> <copies>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = args(2).toInt
    val spark = graft.core.Session.local()
    val OFF = 10000000L

    def replicate(name: String)(mutate: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val all = (0 until copies).map(i => mutate(base, i)).reduce(_ unionByName _)
      all.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    replicate("documents") { (df, i) =>
      if (i == 0) df
      else df.withColumn("doc_id", col("doc_id") + lit(i * OFF))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(w, lit(s"_r$i")))))
    }
    replicate("embeddings") { (df, i) =>
      if (i == 0) df
      else df.withColumn("vec_id", col("vec_id") + lit(i * OFF))
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x.cast("double") +
            pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000)).cast("double")
              / 10000.0 - 0.05).cast("float")))
    }
    replicate("customer") { (df, i) =>
      if (i == 0) df
      else df.withColumn("c_custkey", col("c_custkey") + lit(i * OFF))
    }
    // facts: keys offset consistently ACROSS tables per replica, so
    // cross-table joins (orders↔customer, lineitem↔orders) land inside
    // the same replica; dimension references (part/supplier/nation) are
    // left shared — dims grow slower than facts in a real warehouse.
    replicate("orders") { (df, i) =>
      if (i == 0) df
      else df.withColumn("o_orderkey", col("o_orderkey") + lit(i * OFF))
        .withColumn("o_custkey", col("o_custkey") + lit(i * OFF))
    }
    replicate("lineitem") { (df, i) =>
      if (i == 0) df
      else df.withColumn("l_orderkey", col("l_orderkey") + lit(i * OFF))
    }
    // events.parquet has shipped ts as TIMESTAMP(NANOS) or µs TIMESTAMP_NTZ
    // across testdata generations; nanosAsLong makes the nanos form read as
    // int64 (written back as int64), the µs form passes through as NTZ —
    // loadEvents adapts to either physical type on read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replicate("events") { (df, i) =>
      if (i == 0) df
      else df.withColumn("event_id", col("event_id") + lit(i * OFF))
        .withColumn("user_id", col("user_id") + lit(i * OFF))
    }
    // dims: copied unscaled
    Seq("part", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"$t: copied")
    }
    spark.stop()
  }
}
