package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.matchers.should.Matchers

/** Every entry point builds its session through [[LocalSession]]: the
  * as-of join's row-id stitch pin holds only while shuffle partitions
  * are at most the cores (`PointInTimeJoin`), and the oracle gate reads
  * timestamps in UTC, so a hand-built session elsewhere could silently
  * run another plan or another clock. */
class LocalSessionSpec extends SparkSpec with Matchers {

  private val mainSources: Path =
    Paths.get(sys.props("user.dir"), "src", "main", "scala")

  test("SparkSession.builder appears in src/main only inside the session factory") {
    withClue(s"main sources not found at $mainSources: ") {
      Files.isDirectory(mainSources) shouldBe true
    }
    val walk = Files.walk(mainSources)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("SparkSession.builder") =>
              s"${mainSources.relativize(f)}:${i + 1}"
          }
        }
      finally walk.close()
    withClue(hits.mkString("builders at ", ", ", ": ")) {
      hits.map(_.takeWhile(_ != ':')) shouldBe Seq("graft/LocalSession.scala")
    }
  }

  test("the factory-built session shuffles one partition per core, in UTC") {
    spark.sessionState.conf.numShufflePartitions shouldBe
      spark.sparkContext.defaultParallelism
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }
}
