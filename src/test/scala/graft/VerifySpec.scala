package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's dump loop: a failing query is skipped, not fatal, and named
  * with its message in `verify_failures.json` next to the results.
  */
class VerifySpec extends SparkSpec {

  private def failuresJson(out: String): String =
    Files.readString(Paths.get(s"$out/verify_failures.json"))

  test("a failing query is written to verify_failures.json and the rest still dump") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_before" -> ((s, _) => s.range(3).toDF("x")),
      "boom" -> ((_, _) => throw new IllegalStateException("bad \"input\"\n")),
      "ok_after" -> ((s, _) => s.range(2).toDF("x")),
    )
    val failures = Verify.dump(spark, "/nonexistent", out, queries)
    assert(failures == Map("boom" -> "bad \"input\"\n"))
    assert(failuresJson(out) == """{"boom": "bad \"input\"\n"}""")
    assert(spark.read.parquet(s"$out/ok_before").count() == 3)
    assert(spark.read.parquet(s"$out/ok_after").count() == 2)
  }

  test("verify_failures.json is {} when every query succeeds") {
    val out = Files.createTempDirectory("graft-verify-ok").toString
    val failures = Verify.dump(spark, "/nonexistent", out,
      Seq("ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("x"))))
    assert(failures.isEmpty)
    assert(failuresJson(out) == "{}")
  }
}
