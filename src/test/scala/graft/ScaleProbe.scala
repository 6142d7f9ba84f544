package graft


/** Dev-only scale probe (test scope — not part of the shipped library):
  * times the auto-scaled embedding near-dup path on a given table dir,
  * demonstrating that `planesFor` keeps the q42 family ~linear where a
  * pinned plane count goes quadratic (COVERAGE.md records the numbers).
  *
  * Run: `sbt "Test/runMain graft.ScaleProbe <dir> [reps]"`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()
    val planes = graft.llm.Similarity.planesFor(n)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val pairs = graft.llm.Similarity.lshNearDupPairsAuto(
        emb, "vec_id", "embedding", tables = 4, threshold = 0.4)
      val cnt = pairs.queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, cnt)
    }
    println(s"""{"probe":"q42_auto","dir":"$dir","n":$n,"planes":$planes,""" +
      s""""pairs":${times.head._2},"sec":${times.map(_._1).min}}""")
    spark.stop()
  }
}
