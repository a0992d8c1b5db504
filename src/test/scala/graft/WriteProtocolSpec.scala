package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard on the serving layouts' one write protocol: a dynamic
  * partition overwrite outside [[graft.ext.ServingLayout]] would be a new
  * copy of the read → replace → barrier → overwrite → sweep skeleton,
  * free to drift from it (a footer-inferred read, a missing sweep). */
class WriteProtocolSpec extends AnyFunSuite {

  test("only ServingLayout sets partitionOverwriteMode in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val users = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("partitionOverwriteMode"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSeq.sorted
    assert(users == Seq("graft/ext/ServingLayout.scala"),
      s"dynamic partition overwrite must go through ServingLayout.rewrite: $users")
  }
}
