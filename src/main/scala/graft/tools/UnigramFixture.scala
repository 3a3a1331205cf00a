package graft.tools

import org.apache.spark.sql.functions.col

/** One-shot generator for the frozen unigram piece fixture
  * (`src/main/resources/graft/unigram_pieces.txt` — the
  * [[graft.functions.Text.fixturePieces]] resource): trains
  * [[graft.functions.UnigramTrain.learnedPieces]] on the sf0.001
  * documents table with a vocab cap ABOVE the EM survivor count (96, so
  * nothing is pruned and every corpus word stays exactly segmentable)
  * and prints `piece prob` lines to stdout. Run once, redirect into the
  * resource, commit — the `fixtureMerges` convention. At the default
  * `SPARK_GRAFT_CPUS` (4) it reproduces the committed resource byte for
  * byte. */
object UnigramFixture {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder().appName("unigram-fixture").getOrCreate()
    try {
      val docs = graft.Tables.documents(spark, sfDir)
      val model = graft.functions.UnigramTrain.learnedPieces(
        docs, col("text"), vocabSize = 96, maxPieceLen = 4,
        emIters = 2, maxWords = 512, seedMultis = 64)
      model.select(col("piece"), col("prob")).orderBy(col("piece"))
        .collect()
        .foreach(r => println(s"${r.getString(0)} ${r.getDouble(1)}"))
    } finally spark.stop()
  }
}
