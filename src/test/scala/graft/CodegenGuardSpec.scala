package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards whole-stage codegen: an expression that mixes in
  * `CodegenFallback` takes its whole projection out of the generated
  * stage, so no engine expression may. */
class CodegenGuardSpec extends AnyFunSuite {

  test("no file under src/main/scala mixes in CodegenFallback") {
    val mixin = """\b(?:extends|with)\s+(?:[\w.]+\.)?CodegenFallback\b""".r
    val sources = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.nonEmpty)
    val offenders = sources.filter(p => mixin.findFirstIn(Files.readString(p)).nonEmpty)
    assert(offenders.isEmpty,
      s"implement doGenCode instead of CodegenFallback in: ${offenders.mkString(", ")}")
  }
}
