package graft

/** Invariants the DuckDB hash-compare depends on, in the oracle SQL and
  * the exact-decimal helpers. Each entry's output contract
  * (column types and names, rows) is checked by RegistrySweepSpec. */
class ContractSpec extends SparkSpec {

  test("oracle SQL references only known tables") {
    val known = Tables.names.toSet
    SparkEntry.oracleSql.foreach { case (id, sql) =>
      // (?<!DISTINCT ) skips the IS [NOT] DISTINCT FROM operator
      "(?i)(?<!DISTINCT )FROM\\s+([a-z_][a-z0-9_]*)".r.findAllMatchIn(sql).foreach { m =>
        val t = m.group(1).toLowerCase
        // CTE names and derived aliases are fine; flag unknown BASE tables
        // that look like table names but are not testdata tables or CTEs
        val cteNames = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([a-z_,\\s]*\\))?\\s+AS\\s*\\(".r
          .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        withClue(s"$id: FROM $t") {
          assert(known.contains(t) || cteNames.contains(t) ||
            t == "range" || t == "read_parquet")
        }
      }
    }
  }

  test("signedDivRoundDec survives denominators whose half exceeds " +
    "Long range (the round-7 wrap bug) and matches BigInt half-up " +
    "at every sign") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    // (num, den) pairs: den/2 far past Long.MaxValue, both num signs,
    // fractional parts straddling the .5 rounding boundary
    val cases = Seq(
      (BigInt("379673444564831600000000") * 3 + BigInt("189836722282415800000000"),
        BigInt("379673444564831600000000")),          // frac = .5 exactly
      (BigInt("123456789012345678901234567"), BigInt("25000000000000000000000000")),
      (-BigInt("123456789012345678901234567"), BigInt("25000000000000000000000000")),
      (BigInt("874999999999999999999999"), BigInt("250000000000000000000000")),
      (-BigInt("875000000000000000000001"), BigInt("250000000000000000000000")))
    def expect(n: BigInt, d: BigInt): Long =
      (if (n < 0) -((-n + d / 2) / d) else (n + d / 2) / d).toLong
    cases.foreach { case (n, d) =>
      val df = spark.range(1).select(
        Exact.signedDivRoundDec(
          lit(n.toString).cast(DecimalType(38, 0)),
          lit(d.toString).cast(DecimalType(38, 0))).as("q"))
      assert(df.collect()(0).getLong(0) === expect(n, d), s"$n / $d")
    }
  }
}
