package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QuerySpec

/** Smoke: every registered query executes at sf0.001 (column-name
  * parity with the oracle is covered by tools/oracle_check.py against
  * DuckDB at sf0.01). */
class QueriesSpec extends SparkSpec {

  private def repoFile(name: String): String = {
    val src = scala.io.Source.fromFile(name, "UTF-8")
    try src.mkString finally src.close()
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench.evalAll forces all columns and survives ANSI mode on any schema") {
    import spark.implicits._
    // full-range longs (a + fold would overflow under ANSI), arrays,
    // and a map column (unhashable — takes the to_json path)
    val df = Seq(
      (Long.MaxValue, Seq(1.5f, -2.5f), Map("a" -> 1L)),
      (Long.MinValue, Seq(0.0f), Map("b" -> 2L)),
      (0L, Seq.empty[Float], Map.empty[String, Long])
    ).toDF("id", "vec", "m")
    assert(Bench.evalAll(df) == 3L)
    // and on a real query result with doubles/strings/timestamps
    assert(Bench.evalAll(
      SparkEntry.queries("w6_group_aggregates")(spark, sf0001)) > 0L)
  }

  test("QuerySpec.index rejects repeated query names and names each") {
    // a Map would keep the last spec and silently drop the first plan
    // and its oracle; the registry refuses instead
    val plan: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val specs = Seq("a", "y", "x", "y", "x").map(QuerySpec(_, plan, None))
    val e = intercept[IllegalArgumentException](QuerySpec.index(specs))
    assert(e.getMessage.contains("duplicate query names: x, y"), e.getMessage)
  }

  test("every query is documented in OPERATORS.md (doc-rot guard)") {
    val docs = repoFile("OPERATORS.md")
    // anchored on the backticked code span a doc row uses — bare
    // substring containment would be satisfied by prose mentions or a
    // longer name containing this one
    val missing = SparkEntry.queries.keySet
      .filterNot(n => docs.contains(s"`$n`"))
    assert(missing.isEmpty, s"queries missing from OPERATORS.md: $missing")
    // the Totals line is DERIVED state — hand-maintained counts rotted
    // once (r5 verdict: the line said 154/147 against an actual
    // 188/181 while every per-query row was present). Parse it and
    // pin it to the registry: total = specs.size, oracled = specs
    // with an oracle, rows-only = the difference.
    val total = SparkEntry.specs.size
    val oracled = SparkEntry.specs.count(_.oracle.isDefined)
    val totals = """\*\*Totals: (\d+) queries — (\d+) DuckDB-oracled, (\d+) rows-only""".r
    totals.findFirstMatchIn(docs) match {
      case Some(m) =>
        val (t, o, r) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
        assert(t == total && o == oracled && r == total - oracled,
          s"OPERATORS.md Totals line says $t/$o/$r but the registry has " +
            s"$total/$oracled/${total - oracled} — update the line (it " +
            "must state the spec count, the oracled count and their " +
            "difference)")
      case None =>
        fail("OPERATORS.md Totals line missing or no longer matches " +
          "'**Totals: N queries — M DuckDB-oracled, K rows-only'")
    }
    // README.md carries the same derived counts — same rot risk, same pin
    val readme = repoFile("README.md")
    val rm = """\((\d+) queries, (\d+) oracled""".r
    rm.findFirstMatchIn(readme) match {
      case Some(m) =>
        assert(m.group(1).toInt == total && m.group(2).toInt == oracled,
          s"README.md says ${m.group(1)}/${m.group(2)} queries/oracled " +
            s"but the registry has $total/$oracled")
      case None => fail("README.md '(N queries, M oracled' line missing")
    }
  }

  test("every README `runMain graft.X` names an object with a main (doc-rot guard)") {
    val readme = repoFile("README.md")
    val mains = """runMain graft\.(\w+)""".r
      .findAllMatchIn(readme).map(_.group(1)).toSeq.distinct
    assert(mains.nonEmpty, "README.md lists no `runMain graft.X` line")
    val broken = mains.filterNot { x =>
      scala.util.Try(Class.forName(s"graft.$x$$")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(broken.isEmpty,
      s"README.md advertises mains that do not exist: ${broken.mkString(", ")}")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      // the w24 list policy, made un-rottable (checked here so eager
      // builders — convergence loops, binary searches, local collects —
      // run ONCE per query, not twice): the driver's comparator
      // materializes both sides as pandas frames and sort_values over
      // every column — an ARRAY cell crashes it ("unhashable type:
      // numpy.ndarray", e5/e6/e12b/e14b round 6) regardless of whether
      // values match, and a STRUCT lands as an unhashable dict cell in
      // the same class. Top-level suffices: any nested container sits
      // inside a top-level Array/Map/Struct, which is itself flagged.
      // Lists must ship stringified (array_join/array_to_string).
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      if (SparkEntry.oracleSql.contains(name)) {
        val offenders = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
                 || f.dataType.isInstanceOf[MapType]
                 || f.dataType.isInstanceOf[StructType] =>
            s"${f.name}: ${f.dataType.simpleString}"
        }
        assert(offenders.isEmpty,
          s"array/map/struct-typed columns reach the driver comparator " +
            s"(stringify per the w24 list policy): ${offenders.toSeq}")
      }
      df.count() // must not throw
    }
  }
}
