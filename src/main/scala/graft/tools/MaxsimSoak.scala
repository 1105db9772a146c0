package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the SELF-CONTAINED indexed-maxsim serving route —
  * the measurement BENCHMARKS.md's bench queries cannot provide: the
  * bench fixtures bound their corpus at doc_id < 1500, so the
  * token-instance artifact (and with it every serving scan) stays the
  * SAME SIZE at any SoakCorpus replica count and the route reads a
  * 0.00 exponent by construction. This probe instead builds the
  * artifact over the WHOLE given corpus (1x sf0.1, then 5x/25x soak
  * replicas), folds it with the stats-recording maintenance options
  * (the r19 serving shape: per-part tokId/doc_id min-max + doc_id
  * bloom, tokId-range-clustered merges), and times ONLY the serving
  * route (JsonApi.search with a maxsim block naming the artifact) —
  * so the printed exponent is the route's true corpus-size scaling,
  * the number that decides whether the manifest-pruned candidate→doc
  * map and re-score scans hold at 100 TB.
  *
  * Usage: runMain graft.tools.MaxsimSoak <sfDir> <workDir> [runs=5]
  * Prints one JSON line: {"corpus":…,"docs":N,"instances":N,
  * "build_sec":…,"runs":[…],"min_sec":…}
  */
object MaxsimSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val work = args(1)
    val runs = if (args.length > 2) args(2).toInt else 5
    val spark = graft.Sessions.build(app = "graft-maxsim-soak")

    val docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    val dims = 16
    val idxPath = s"$work/maxsim-soak-idx"

    // build + stats fold once per corpus (cached across probe reruns
    // by the marker, mirroring the bench fixtures' stagedOnce)
    val marker = new java.io.File(s"$idxPath/_SOAK_DONE")
    val t0 = System.nanoTime()
    if (!marker.exists()) {
      val inst = graft.engine.JsonApi.maxsimTokenInstances(
        docs, "doc_id", "text", dims)
      graft.pipeline.Similarity.build(inst, "tok_id", "d_vec", idxPath,
        graft.pipeline.IndexLayout.Flat,
        Seq(graft.pipeline.Similarity.syntheticCodebook(spark, nCells = 64,
          dims = dims)),
        payload = Seq("doc_id"))
      // SOAK_NO_FOLD=1 measures the CONTROL: without the stats fold
      // no part carries skipping metadata, so the pruned reads keep
      // every file — exactly the r18 (unpruned) serving cost
      if (!sys.env.get("SOAK_NO_FOLD").contains("1"))
        graft.pipeline.Similarity.compactIndexCells(spark, idxPath, "tok_id",
          graft.pipeline.Similarity.maxsimIndexMaintenanceOptions(
            "tok_id", "doc_id")): Unit
      marker.createNewFile(): Unit
    }
    val buildSec = (System.nanoTime() - t0) / 1e9
    val nInst = spark.read.parquet(s"$idxPath/cells").count()

    val body =
      s"""{"terms": ["column", "scan"], "topK": 10,
          "maxsim": {"dims": $dims, "nProbe": 8, "candTok": 20},
          "index": "$idxPath"}"""
    def once(): Double = {
      val t = System.nanoTime()
      graft.engine.JsonApi.search(docs, body).collect(): Unit
      (System.nanoTime() - t) / 1e9
    }
    once(): Unit // codegen / page-cache warm-up, not "serving cost"
    val times = Seq.fill(runs)(once()).map(t => math.round(t * 1000) / 1000.0)
    println(s"""{"corpus":"$sfDir","docs":$nDocs,"instances":$nInst,""" +
      s""""build_sec":${math.round(buildSec * 10) / 10.0},""" +
      s""""runs":[${times.mkString(",")}],"min_sec":${times.min}}""")
    spark.stop()
  }
}
