package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.engine.Pin]] is the only code in src/main that asks Spark to
  * hold a relation, so the pin policy stays a one-file decision.
  */
class PinSpec extends AnyFunSuite {
  test("no localCheckpoint, cache or persist call in src/main outside Pin.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val call = """localCheckpoint\(|\.cache\(\)|\.persist\(""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pin.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        })
        .toList
      finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
