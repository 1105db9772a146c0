package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× replica corpus for row-scaling soaks (the r14
  * protocol): replicas get id offsets, a per-replica text token (so
  * replicated documents are near-dups, not exact dups), and a small
  * per-replica embedding perturbation (so replicated vectors cluster
  * near — not on — their originals). Replica 0 is the original corpus
  * byte for byte. Tables the soak queries don't scale over (the
  * TPC-H-ish relations, events) copy through verbatim so Bench's
  * corpus fingerprint and any incidental reads keep working.
  *
  * Usage: runMain graft.tools.SoakCorpus <srcSfDir> <destDir> [n=5]
  * then SPARK_GRAFT_SF_DIR=<destDir> SPARK_GRAFT_ONLY=q_a,q_b
  * runMain graft.Bench — exponents = ln(tN/t1)/ln(n), normalized by
  * output cardinality where the operator's true output grows.
  */
object SoakCorpus {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val n = if (args.length > 2) args(2).toInt else 5
    require(n >= 1, "need at least one replica")
    val spark = graft.Sessions.build(app = "graft-soak-corpus")

    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(r => if (r == 0) df else per(df, r)).reduce(_ unionAll _)

    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val embs0 = spark.read.parquet(s"$src/embeddings.parquet")
    // ONE replica id stride shared by BOTH tables, derived from the
    // observed ids: replicated doc_id and vec_id shift identically,
    // so soaked queries that join documents to embeddings by id
    // (hybrid search) stay aligned, and ids can never collide across
    // replicas at any corpus size. (Fixed 1e6/1e7 offsets collide
    // silently past 1e6 source documents and de-align the tables.)
    val stride = math.max(
      docs0.agg(max(col("doc_id"))).head().getLong(0),
      embs0.agg(max(col("vec_id"))).head().getLong(0)) + 1L
    // passage/maxsim composite ids are doc_id·1e6 + pos: keep the
    // replicated id space inside the documented 5e6 headroom
    require(stride * n <= 5000000L,
      s"replica id space ${stride * n} exceeds the composite-id " +
        "headroom (doc_id <= 5e6) — shrink n or the corpus")

    // documents: the per-replica tail token makes replicas near-dups
    // with slightly longer dl
    replicate(docs0) { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * stride))
        .withColumn("text", concat(col("text"), lit(s" rep$r")))
        .withColumn("n_chars", col("n_chars") + lit(s" rep$r".length.toLong))
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // embeddings: deterministic per-(replica, dim) perturbation —
    // replicas are near neighbors of their originals, never duplicates
    replicate(embs0) { (e, r) =>
      e.withColumn("vec_id", col("vec_id") + lit(r * stride))
        .withColumn("embedding",
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => (x + ((lit(r) * 31 + j) % 7 - 3).cast("float") *
              lit(0.01f)).cast("float")))
    }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // verbatim copies for everything else the suite might touch
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copied = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .map(_.getPath.getName)
      .filterNot(nm => nm == "documents.parquet" || nm == "embeddings.parquet")
    copied.foreach { nm =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$src/$nm"),
        fs, new org.apache.hadoop.fs.Path(s"$dst/$nm"),
        false, true, spark.sparkContext.hadoopConfiguration): Unit
    }
    println(s"[soak] wrote ${n}x documents+embeddings and " +
      s"${copied.length} verbatim tables to $dst")
    spark.stop()
  }
}
