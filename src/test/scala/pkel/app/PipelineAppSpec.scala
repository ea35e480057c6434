package pkel.app

import org.scalatest.funsuite.AnyFunSuite

class PipelineAppSpec extends AnyFunSuite {

  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](PipelineApp.parseArgs(args.toArray)).getMessage

  test("parseArgs reads --key value pairs") {
    assert(PipelineApp.parseArgs(Array("--convs", "20", "--cc-star", "join", "--prune", "true")) ==
      Map("convs" -> "20", "cc-star" -> "join", "prune" -> "true"))
    assert(PipelineApp.parseArgs(Array.empty).isEmpty)
  }

  test("parseArgs rejects unknown keys, dangling flags and stray values, listing the valid keys") {
    val unknown = rejects("--convs", "20", "--cc-stars", "join")
    assert(unknown.contains("unknown option --cc-stars"), unknown)
    assert(PipelineApp.validKeys.forall(k => unknown.contains(s"--$k")), unknown)
    assert(rejects("--convs", "20", "--prune").contains("--prune has no value"))
    assert(rejects("--prune", "--convs", "20").contains("--prune has no value"))
    assert(rejects("--threshold").contains("unknown option --threshold"))
    assert(rejects("20", "--convs").contains("expected a --key before '20'"))
  }
}
