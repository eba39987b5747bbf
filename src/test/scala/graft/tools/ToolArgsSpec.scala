package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ToolArgsSpec extends AnyFunSuite {

  test("key=value parses; the value may hold '='") {
    assert(ToolArgs.keyValue("k=v") == Some(("k", "v")))
    assert(ToolArgs.keyValue("k=a=b") == Some(("k", "a=b")))
  }

  test("a key without a value, or a value without a key, is rejected") {
    assert(ToolArgs.keyValue("k").isEmpty)
    assert(ToolArgs.keyValue("=v").isEmpty)
    assert(ToolArgs.prefixed(Seq("conf:a=1", "conf:foo"), "conf:").isEmpty)
    assert(ToolArgs.prefixed(Seq("conf:a=1", "other"), "conf:").isEmpty)
    assert(ToolArgs.prefixed(Seq("conf:a=1", "conf:b=2=3"), "conf:") == Some(Seq(("a", "1"), ("b", "2=3"))))
  }
}
