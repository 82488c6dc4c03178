package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The Warehouse commit (stage, record, apply) is the only code in src/main
  * that moves files into place, so crash safety stays a one-protocol
  * decision: a rename anywhere else would be a recovery scheme of its own.
  */
class CommitSpec extends AnyFunSuite {
  test("no Files.move or ATOMIC_MOVE in src/main outside the Warehouse commit step and putMeta") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val move = """Files\.move\(|ATOMIC_MOVE""".r
    val definition = """\bdef (\w+)""".r
    val allowed = Set("applyStep", "putMeta")
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.filter(i => move.findFirstIn(lines(i)).isDefined).flatMap { i =>
          // the method the line sits in: the nearest definition above it
          val owner = (i to 0 by -1).iterator
            .flatMap(j => definition.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
          val inCommit = p.getFileName.toString == "Warehouse.scala" &&
            owner.exists(allowed.contains)
          if (inCommit) None else Some(s"$p:${i + 1}: ${lines(i).trim}")
        }
      }.toList
      finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
