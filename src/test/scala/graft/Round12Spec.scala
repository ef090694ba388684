package graft

/** Round-12 guards: the documented Long-micros emission bound of the
  * typed pipeline pinned as executable fact, and the unicode token
  * counts of the planted non-ASCII docs.
  */
class Round12Spec extends SparkSpec {

  test("revenueMicros holds exactly to Long.MaxValue/10^6 and throws " +
      "LOUDLY one tick past it — the sf100–sf300 decade fails, never wraps") {
    import java.math.BigDecimal
    val bound = operators.Typed.REVENUE_MICROS_MAX
    // the bound itself emits (floor(Long.MaxValue/10^6) scaled back up)
    val atBound = operators.Typed.revenueMicros(bound)
    assert(atBound == bound.movePointRight(6).longValueExact())
    assert(atBound <= Long.MaxValue && atBound > Long.MaxValue - 1000000L)
    // one micro past the bound must throw, not wrap negative
    val past = bound.add(new BigDecimal("0.000001"))
    intercept[ArithmeticException](operators.Typed.revenueMicros(past))
    // an sf100-shaped per-group revenue (~8e13: sf10's 8e11 × 100)
    // likewise throws — the failure decade documented in the Scaladoc
    // and SCALE.md is real, and it is loud
    intercept[ArithmeticException](
      operators.Typed.revenueMicros(new BigDecimal("80000000000000.000000")))
  }

  test("typed-pipeline fixture revenue sits at least a decade below the " +
      "micros bound (the documented sf100 headroom statement)") {
    val rows = SparkEntry.queries("ds_typed_pipeline")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val maxMicros = rows.map(_.getLong(3)).max
    assert(maxMicros < Long.MaxValue / 10,
      s"fixture revenue $maxMicros within 10× of the Long bound — the " +
        "SCALE.md headroom claim no longer holds")
  }

  test("text_tokens_unicode tokenizes the planted non-ASCII docs " +
      "correctly under \\p{L} while the ASCII splitter shreds them") {
    val got = SparkEntry.queries("text_tokens_unicode")(spark, sfDir)
      .filter("doc_id < 0").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      // German: 5 true letter-runs; [a-z] shreds around Ü/ö/ü/G/M → 7
      -1L -> ((5L, 7L, 5L)),
      // CJK: 3 letter-runs, ASCII splitter sees zero
      -2L -> ((3L, 0L, 3L)),
      // Greek: 3 letter-runs, ASCII zero
      -3L -> ((3L, 0L, 3L)),
      // ASCII control: both splitters identical
      -4L -> ((8L, 8L, 8L))), s"got $got")
  }

  test("fixture text is pure ASCII, so the unicode and ascii token " +
      "counts agree on every non-planted doc's lowercase runs only " +
      "where the text has no capitals — the planted rows carry the proof") {
    // fixture docs are lowercase ASCII: the two splitters must agree
    val diverging = SparkEntry.queries("text_tokens_unicode")(spark, sfDir)
      .filter("doc_id >= 0 AND n_tok_unicode <> n_tok_ascii").count()
    assert(diverging == 0L,
      s"$diverging fixture docs diverged between the splitters — fixture " +
        "text is no longer pure lowercase ASCII; revisit the SCALE.md note")
  }
}
