package graft
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32)
    val dir = "/root/testdata/sf0.1"
    graft.sources.ParquetTables.registerAll(spark, dir).foreach(t => spark.table(t).count())
    for (name <- args) {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        // Full materialization (Bench's noop-sink pricing) — count()
        // would let Catalyst prune agg lists (SURVEY §8.9.1).
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"$name pass$i ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
