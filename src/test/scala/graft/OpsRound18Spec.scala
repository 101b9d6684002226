package graft

import org.apache.spark.sql.functions._

/** Round-12 wave: the nested semi-structured roundtrip key (VERDICT
  * r11 #8) and the exact-integer threshold discipline the dedup
  * family moved to (ADVICE r11 — no r4-on-double filters or values on
  * small-integer rationals).
  */
class OpsRound18Spec extends SparkSpec {
  import spark.implicits._

  test("json_nested_roundtrip: every order roundtrips, absent vs " +
    "empty kept distinct") {
    val rows = ops.Generators.jsonNestedRoundtrip(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the re-nest must reproduce the parsed original EVERYWHERE — the
    // fixture is lossless by construction, so any false flag is an
    // explode/re-nest bug, not data
    assert(rows.forall(r => r.getBoolean(r.fieldIndex("roundtrip_ok"))),
      "re-nest diverged from the parsed original")
    // absent (null JSON) and empty ([]) both survive the OUTER explode
    // as 0-item parents, distinguished by has_json
    val absent = rows.filter(!_.getBoolean(1))
    val empty = rows.filter(r => r.getBoolean(1) && r.getLong(2) == 0)
    assert(absent.nonEmpty && absent.forall(_.getLong(2) == 0))
    assert(empty.nonEmpty)
    // qty_sum is NULL exactly on the 0-item parents (sum over an empty
    // group, not 0 — the SQL convention both engines share)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("qty_sum")) === (r.getLong(2) == 0L))
    }
  }

  test("json_nested_roundtrip: the pinned schema IS what inference " +
    "yields (schema_of_json agreement)") {
    // the key parses against a PINNED schema; this asserts the pin
    // matches a one-time schema_of_json inference on a non-degenerate
    // row, so the pin can never silently drift from the fixture shape
    val inferred = spark.range(1)
      .select(schema_of_json(lit("""[{"ln":1,"qty":17}]""")).as("s"))
      .collect()(0).getString(0)
    assert(inferred.toLowerCase.replaceAll("\\s", "")
      === "array<struct<ln:bigint,qty:bigint>>",
      s"inference drifted: $inferred")
    // the declared key pins int (the fixture values fit), which is the
    // inferred shape narrowed — field names and nesting must agree
    assert(inferred.toLowerCase.contains("ln") &&
      inferred.toLowerCase.contains("qty"))
  }

  test("json_nested_roundtrip: parse + explode stay codegen'd (no UDF)") {
    val plan = finalPlan(ops.Generators.jsonNestedRoundtrip(spark, sfDir))
    assert(!plan.contains("ScalaUDF"), plan.take(800))
  }

  test("exact-integer thresholds: the emitted similarity never " +
    "disagrees with the filter at the boundary") {
    // Two docs sharing exactly 7 of min-side 10 shingles: containment
    // 0.7 EXACTLY — in the result under 10c >= 7m, value 0.7 (7000/1e4).
    // A 0.69995-class value (below the rational threshold but rounding
    // to 0.7) must be OUT — the class the old r4 filter admitted
    // nondeterministically (ADVICE r11). 12 tokens => 10 shingles;
    // first 9 shingles shared requires first 11 tokens shared.
    val docs = Seq(
      // 12 tokens, 10 shingles; shares tokens 1..9 with doc 2 => 7
      // common shingles (windows starting at positions 1..7)
      (1L, "a b c d e f g h i x1 y1 z1"),
      (2L, "a b c d e f g h i x2 y2 z2")
    ).toDF("doc_id", "text")
    val pairs = Referees.dedupContainmentPrefixOn(docs).collect()
    assert(pairs.length === 1, pairs.mkString(","))
    assert(pairs(0).getDouble(2) === 0.7, "exact-boundary pair must emit 0.7")
  }
}
