package graft

import graft.recommend._
import graft.recommend.Transforms.ColStats
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** T4 selection rules — every branch of the reference iceberg_utils.py:1-46
  * as a table-driven test, plus ScalaCheck clamp/stability properties. Types
  * are keyed by the name the profiler records (`DataType.simpleString`). */
class TransformsSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def stats(card: Long = 0, range: Option[Double] = None, gran: Option[String] = None) =
    ColStats(card, range, gran)

  test("date/timestamp columns use granularity-driven date transform, default month") {
    assert(Transforms.select("timestamp", stats(gran = Some("day"))) == DateTransform("day"))
    assert(Transforms.select("date", stats(gran = Some("year"))) == DateTransform("year"))
    assert(Transforms.select("timestamp_ntz", stats(gran = None)) == DateTransform("month"))
  }

  test("string columns: bucket(16) above 10000 cardinality, identity otherwise") {
    assert(Transforms.select("string", stats(card = 10001)) == BucketTransform(16))
    assert(Transforms.select("string", stats(card = 10000)) == IdentityTransform)
    assert(Transforms.select("string", stats(card = 3)) == IdentityTransform)
  }

  test("integer columns: bucket clamp [4,32], truncate(100) for wide ranges, else identity") {
    assert(Transforms.select("bigint", stats(card = 1001)) == BucketTransform(4)) // 1001/500=2 → clamp 4
    assert(Transforms.select("bigint", stats(card = 16000)) == BucketTransform(32))
    assert(Transforms.select("int", stats(card = 5000)) == BucketTransform(10))
    assert(Transforms.select("bigint", stats(card = 500, range = Some(10001.0))) == TruncateTransform(100))
    assert(Transforms.select("bigint", stats(card = 500, range = Some(9999.0))) == IdentityTransform)
  }

  test("other types fall through to identity") {
    assert(Transforms.select("double", stats(card = 999999)) == IdentityTransform)
    assert(Transforms.select("boolean", stats()) == IdentityTransform)
  }

  test("bucket count stays in [4, 32] for any cardinality > 1000") {
    check(Prop.forAll(Gen.choose(1001L, 100000000L)) { card =>
      Transforms.select("bigint", stats(card = card)) match {
        case BucketTransform(n) => n >= 4 && n <= 32
        case _ => false
      }
    })
  }

  test("render matches Iceberg spec text") {
    assert(DateTransform("month").render("l_shipdate") == "month(l_shipdate)")
    assert(BucketTransform(16).render("c") == "bucket(16, c)")
    assert(TruncateTransform(100).render("c") == "truncate(c, 100)")
    assert(IdentityTransform.render("c") == "c")
  }
}
