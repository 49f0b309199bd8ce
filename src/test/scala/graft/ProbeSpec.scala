package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** Command-line parsing of the dev probe (pure, no session). */
class ProbeSpec extends AnyFunSuite {

  private val known = Set("a", "b")
  private def parse(args: String*) = Probe.parse(args, known)

  test("both --opt value and --opt=value spellings parse") {
    val spaced = parse("--keys", "a,b", "--reps", "3", "--conf", "x.y=1", "--plan")
    val joined = parse("--keys=a,b", "--reps=3", "--conf=x.y=1", "--plan")
    val want = Probe.Opts(Seq("a", "b"), 3, Seq("x.y" -> "1"), plan = true)
    assert(spaced === Right(want))
    assert(joined === Right(want))
  }

  test("--conf is repeatable and keeps '=' inside the value") {
    assert(parse("--conf", "k=v=w", "--conf=j=").map(_.confs) ===
      Right(Seq("k" -> "v=w", "j" -> "")))
  }

  test("defaults: no keys (inventory mode), two reps, no confs, no plan") {
    assert(parse() === Right(Probe.Opts()))
  }

  test("malformed input is a Left with the reason, never an exception") {
    assert(parse("--conf", "novalue").left.exists(_.contains("k=v")))
    assert(parse("--conf=novalue").left.exists(_.contains("k=v")))
    assert(parse("--conf", "=v").left.exists(_.contains("k=v")))
    assert(parse("--conf").left.exists(_.contains("needs a value")))
    assert(parse("--keys", "a,zz").left.exists(_.contains("zz")))
    assert(parse("--keys", ",").isLeft)
    assert(parse("--reps", "0").isLeft)
    assert(parse("--reps", "x").isLeft)
    assert(parse("--layers").left.exists(_.contains("--layers")))
  }
}
