package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * The engine reads environment variables only for deployment settings. An A/B switch
 * for an experiment (a `SPARK_GRAFT_*` flag that picks between two plans) lives only as
 * long as its experiment; adding one makes this spec fail, so it shows up in review.
 */
class EnvSettingsSpec extends AnyFunSuite {

  private val deploymentSettings = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_BUDGET_SEC", "SPARK_GRAFT_BENCH_FULL")

  private val envRead = """sys\.env\b|System\.getenv\b""".r
  private val literalKey =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]+)"""".r

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main reads only the deployment env settings, each by a literal key") {
    val sources = mainSources
    assert(sources.nonEmpty, "src/main/scala not found from the test working directory")
    val reads = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if envRead.findFirstIn(line).nonEmpty
    } yield (s"$p:${i + 1}", line)
    // a read whose key is not a literal could name any variable
    val opaque = reads.filter { case (_, line) =>
      envRead.findAllIn(line).size != literalKey.findAllIn(line).size
    }
    assert(opaque.isEmpty, s"env reads without a literal key:\n${opaque.mkString("\n")}")
    val keys = reads.flatMap { case (_, line) =>
      literalKey.findAllMatchIn(line).map(_.group(1))
    }.toSet
    assert(keys == deploymentSettings,
      s"unexpected: ${keys -- deploymentSettings}; missing: ${deploymentSettings -- keys}")
  }
}
