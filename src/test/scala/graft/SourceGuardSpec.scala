package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source-level guards on the program's structure:
  *  - one session factory: every entry point opens `Bench.session`, so no
  *    second, drifting conf list can appear in `src/main`;
  *  - no query body unsets a conf: a gate scopes its confs with
  *    `SessionConf.withConf`, which restores the caller's value instead of
  *    dropping it;
  *  - one spelling of the `file:` scheme install: `Bench.session` and the
  *    test session read `graft.io.LocalFileScheme.SparkConf`, so specs run
  *    the file system the bench measures;
  *  - one recursive delete, `graft.io.LocalDirs.deleteRecursively`;
  *  - one replay driver: under `graft/queries` only `StreamGate` opens a
  *    stream source or drains a running query, so no gate re-spells the
  *    harness or its release of the stream and the chunk cache;
  *  - one batch admission probe: no query names the streaming trigger's
  *    `InMemoryMembershipStore`, so `SignatureIndex.probeNearDuplicateIds`
  *    (the members-frame join) stays the only candidate probe a gate
  *    runs;
  *  - one job-description scope: only `SessionConf.withJobDescription`
  *    sets a Spark job description, so every described phase restores
  *    its caller's description, also when it throws;
  *  - one interpreted-evaluation switch: Spark's internal
  *    `spark.sql.codegen.factoryMode` is named in `src/main` only in
  *    `CatalogStats`, whose set-up-scale ANALYZE wave is its one use.
  */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def scalaSources(dir: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally s.close()
  }
  private def hits(dir: String, needle: String): Seq[String] =
    scalaSources(dir).flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}: ${line.trim}"
      }
    }

  test("src/main holds exactly one SparkSession builder, in Bench.session") {
    val sites = hits("src/main", "SparkSession.builder")
    assert(sites.size == 1 && sites.head.contains("Bench.scala"),
      sites.mkString("builder sites:\n", "\n", ""))
  }

  test("no query body calls conf.unset") {
    val sites = hits("src/main/scala/graft/queries", "conf.unset(")
    assert(sites.isEmpty, sites.mkString("conf.unset in queries:\n", "\n", ""))
  }

  test("the file: scheme keys are spelled only in graft.io.LocalFileScheme") {
    val sites = (hits("src/main", "fs.file.impl") ++ hits("src/test", "fs.file.impl"))
      .filterNot(_.contains("SourceGuardSpec.scala"))
    assert(sites.nonEmpty && sites.forall(_.contains("io/LocalFileScheme.scala")),
      sites.mkString("fs.file.impl sites:\n", "\n", ""))
  }

  test("src/main holds exactly one recursive delete, in graft.io.LocalDirs") {
    val sites = hits("src/main", "Comparator.reverseOrder")
    assert(sites.size == 1 && sites.head.contains("io/LocalDirs.scala"),
      sites.mkString("reverse-order walk sites:\n", "\n", ""))
  }

  test("under graft/queries only StreamGate opens or drains a stream") {
    val sites = Seq("readStream", "processAllAvailable")
      .flatMap(hits("src/main/scala/graft/queries", _))
    assert(sites.nonEmpty && sites.forall(_.contains("queries/StreamGate.scala")),
      sites.mkString("stream sites in queries:\n", "\n", ""))
  }

  test("no query names the streaming trigger's in-memory store") {
    val sites = hits("src/main/scala/graft/queries", "InMemoryMembershipStore")
    assert(sites.isEmpty, sites.mkString("store sites in queries:\n", "\n", ""))
  }

  test("src/main sets a job description only in SessionConf.withJobDescription") {
    val sites = Seq("\"spark.job.description\"", "setJobDescription(")
      .flatMap(hits("src/main", _))
    assert(sites.nonEmpty && sites.forall(_.contains("graft/SessionConf.scala")),
      sites.mkString("job description sites:\n", "\n", ""))
  }

  test("src/main names Spark's codegen factory mode only in CatalogStats") {
    val sites = hits("src/main", "spark.sql.codegen.factoryMode")
    assert(sites.nonEmpty && sites.forall(_.contains("graft/CatalogStats.scala")),
      sites.mkString("codegen factory mode sites:\n", "\n", ""))
  }
}
