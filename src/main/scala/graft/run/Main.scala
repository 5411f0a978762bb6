package graft.run

import graft.LocalSession
import graft.registry.YamlRegistry

/** CLI entry: run a FeastExampleGen-shaped job end-to-end.
  *
  * {{{
  * runMain graft.run.Main <registry.yaml> <dataDir> <outDir> \
  *   <service-or-refs> <entitySql> [beginTs endTs]
  * }}}
  *
  * `service-or-refs`: a feature-service name, comma-separated
  * `view:feature` refs, or `-` for NONE — a feature-less CORPUS-PREP
  * job, where the entity SQL is the corpus and the transform chain is
  * the pipeline (clean → gates → tokenize_against → pack_sequences →
  * TFRecord training sequences). Prints one JSON line per output
  * split.
  *
  * Env `GRAFT_TRANSFORMS` applies a corpus-prep transform chain (see
  * [[Transforms]]) between retrieval and encoding, e.g.
  * `quality_filter(col=bio,min_tokens=5);sample_hash(key=user_id,pct=50)`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: Main <registry.yaml> <dataDir> <outDir> <service-or-refs> <entitySql> [beginTs endTs]")
      sys.exit(2)
    }
    val Array(registryPath, dataDir, outDir, featureArg, entitySql) = args.take(5)
    val rangeParams = if (args.length >= 7)
      Map("begin_timestamp" -> s"TIMESTAMP'${args(5)}'",
          "end_timestamp" -> s"TIMESTAMP'${args(6)}'")
    else Map.empty[String, String]

    val features: Either[Seq[String], String] =
      if (featureArg == "-") Left(Seq.empty) // corpus-prep: no views
      else if (featureArg.contains(":")) Left(featureArg.split(",").toSeq)
      else Right(featureArg)

    val spark = LocalSession(LocalSession.cpus(32))

    val job = JobConfig(
      registry = YamlRegistry.loadFile(registryPath),
      dataDir = dataDir,
      features = features,
      entityQuery = entitySql,
      rangeParams = rangeParams,
      outputPath = outDir,
      transforms = sys.env.get("GRAFT_TRANSFORMS")
        .map(Transforms.parse).getOrElse(Nil))
    val results = Runner.run(spark, job)
    results.foreach { r =>
      println(s"""{"split":"${r.split}","records":${r.records},"path":"${r.path}"}""")
    }
    spark.stop()
  }
}
