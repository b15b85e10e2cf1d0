package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The self-attestation contract every gated query relies on: a failed
  * condition throws (Verify then records the query as `err`), and a
  * passing gate hands back its rows unchanged. Tiny local frames only.
  */
class GateSpec extends SparkSpec {

  private def failure(body: => Any): String =
    intercept[IllegalStateException](body).getMessage

  private def frame = {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
  }

  test("Gate.apply throws on a failing row, naming its what and the row") {
    val msg = failure(Gate(frame, col("v") < 30, "v stays below 30"))
    assert(msg.startsWith("self-attestation failed [v stays below 30]"), msg)
    assert(msg.contains("[3,30,false]"), msg)
    assert(!msg.contains("[1,10"), msg)
  }

  test("Gate.apply treats a null predicate as a failure") {
    val msg = failure(Gate(frame, lit(null).cast("boolean"), "null ok"))
    assert(msg.contains("[null ok]"), msg)
  }

  test("Gate.apply throws on an empty frame") {
    val msg = failure(Gate(frame.where(col("id") > 3), lit(true), "nothing"))
    assert(msg == "self-attestation failed [nothing]: empty result", msg)
  }

  test("Gate.apply returns the same rows and schema when every row passes") {
    val out = Gate(frame, col("v") === col("id") * 10, "v is ten ids")
    assert(out.schema == frame.schema)
    assert(out.collect().toSeq == frame.collect().toSeq)
  }

  test("Gate.check throws its message only when the condition fails") {
    var built = 0
    Gate.check(cond = true, { built += 1; "unused" })
    assert(built == 0, "a passing check built its message")
    assert(failure(Gate.check(cond = false, "2 + 2 != 5")) ==
      "self-attestation failed: 2 + 2 != 5")
  }

  test("Gate.violations returns 0 when every condition holds") {
    assert(Gate.violations() == 0L)
    assert(Gate.violations(true -> "a", (1 < 2) -> "b") == 0L)
  }

  test("Gate.violations names only the failing conditions") {
    val msg = failure(Gate.violations(
      true -> "holds", false -> "first broke", (2 < 1) -> "second broke"))
    assert(msg == "self-attestation failed: first broke; second broke", msg)
  }

  test("Gate.planted holds at the threshold and fails one below it") {
    assert(Gate.violations(Gate.planted(18, 18, 20, "planted copies")) == 0L)
    assert(Gate.planted(20, 18, 20, "planted copies")._1)
    val msg = failure(Gate.violations(Gate.planted(17, 18, 20, "planted copies")))
    assert(msg == "self-attestation failed: planted copies: 17/20 planted, need >= 18", msg)
    val both = failure(Gate.violations(
      Gate.planted(19, 18, 20, "kept"), Gate.planted(3, 18, 20, "lost")))
    assert(both.contains("lost: 3/20") && !both.contains("kept"), both)
  }
}
