package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, MinHashSignature, TopKAggregator, TopKPairAggregator}

/** Custom function surface: SQL registration + heap top-k aggregator. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim is callable from SQL after registration") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(2.0D, 0.0D)) AS c").collect()(0)
    assert(got.getDouble(0) == 1.0)
  }

  test("top-k aggregator equals the window-sort form on real data") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val topk = udaf(new TopKAggregator(3))
    val viaAgg = li.groupBy("l_returnflag")
      .agg(topk(col("l_extendedprice")).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")))
      .select(col("l_returnflag"), col("pos"), col("col").as("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    val viaWindow = li
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice").desc)))
      .filter(col("rn") <= 3)
      .select(col("l_returnflag"), (col("rn") - 1).as("pos"),
        col("l_extendedprice").as("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("top_k_3 udaf is callable from SQL") {
    GraftFunctions.register(spark)
    graft.sources.Tables.lineitem(spark, sf0001).createOrReplaceTempView("li_v")
    val got = spark.sql(
      "SELECT size(top_k_3(l_quantity)) FROM li_v GROUP BY l_returnflag")
      .collect().map(_.getInt(0))
    assert(got.forall(_ == 3))
  }

  test("pair top-k aggregator matches sort-based reference under duplicate scores") {
    // deterministic pseudo-random pairs with heavy score collisions, so
    // tie-breaking (score desc, id asc) is genuinely exercised across
    // partial-aggregate merges
    val rnd = new scala.util.Random(42)
    val rows = (0 until 2000).map { i =>
      (i % 7L, rnd.nextInt(50).toDouble / 10.0, i.toLong) // (grp, score, id)
    }
    val df = spark.createDataFrame(rows).toDF("grp", "score", "id")
      .repartition(8) // force multi-partition partial merges
    val k = 5
    val topk = udaf(new TopKPairAggregator(k))
    val got = df.groupBy("grp")
      .agg(topk(col("score"), col("id")).as("tk"))
      .select(col("grp"), posexplode(col("tk")))
      .select(col("grp"), col("pos"), col("col.score"), col("col.id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq)
    val want = rows.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3))
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .take(k).toSeq)
    want.toMap.foreach { case (g, exp) =>
      assert(got(g) == exp, s"group $g: ${got(g)} vs $exp")
    }
  }

  test("MinHashSignature native expression equals the array_min(transform) column form") {
    import graft.extensions.Dedup
    // real corpus rows plus the degenerate inputs whose per-slot null
    // semantics the native expression must reproduce exactly: empty
    // text (no shingles), single short token, null text
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).limit(50)
      .unionByName(Seq((9000001L, ""), (9000002L, "x"),
        (9000003L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val base = docs
      .withColumn("__toks", graft.extensions.TextAnalysis.tokens(col("text")))
      .withColumn("__base", transform(
        Dedup.ngramShinglesFromTokens(col("__toks"), 3),
        sh => pmod(Dedup.md5Hash60(sh), lit(Dedup.MinHashP))))
    val k = 8
    val seedsA = Array.tabulate(k)(i => Dedup.seedConst("a", i))
    val seedsB = Array.tabulate(k)(i => Dedup.seedConst("b", i))
    val oldForm = array((0 until k).map { i =>
      array_min(transform(col("__base"),
        h => (lit(seedsA(i)) * h + lit(seedsB(i))) % Dedup.MinHashP))
    }: _*)
    val rows = base.select(col("doc_id"),
        oldForm.as("old_sig"),
        MinHashSignature.minhash_signature(col("__base"), seedsA, seedsB,
          Dedup.MinHashP).as("new_sig"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getSeq[Any](1); val n = r.getSeq[Any](2)
      assert(o == n, s"doc ${r.getLong(0)}: $o vs $n")
    }
    // the text pipeline never produces a null/empty base array (tokens()
    // coalesces), so the degenerate inputs are exercised at the
    // EXPRESSION level: a null or empty base array must yield all-null
    // SLOTS (never a null array), matching array_min(transform(...))
    // per-slot null propagation — both engines compared on literals
    def oldOn(c: org.apache.spark.sql.Column) =
      array((0 until k).map { i =>
        array_min(transform(c,
          h => (lit(seedsA(i)) * h + lit(seedsB(i))) % Dedup.MinHashP))
      }: _*)
    def newOn(c: org.apache.spark.sql.Column) =
      MinHashSignature.minhash_signature(c, seedsA, seedsB, Dedup.MinHashP)
    val nullArr = lit(null).cast("array<bigint>")
    val emptyArr = array().cast("array<bigint>")
    val edge = spark.range(1)
      .select(newOn(nullArr).as("n1"), newOn(emptyArr).as("n2"),
        oldOn(emptyArr).as("o2"))
      .collect()(0)
    for (i <- 0 until 2)
      assert(!edge.isNullAt(i) && edge.getSeq[Any](i).forall(_ == null),
        s"expected all-null slots at col $i, got $edge")
    assert(edge.getSeq[Any](1) == edge.getSeq[Any](2),
      "empty-array slots must match the column form")
  }

  test("SimHashSignature native expression equals the per-bit aggregate column form") {
    import graft.extensions.Dedup
    import graft.functions.SimHashSignature
    // the pre-r15 column form, verbatim (Dedup.simHashOf's old body)
    def oldForm(hashes: org.apache.spark.sql.Column, bits: Int) =
      (0 until bits).map { j =>
        val votes = aggregate(hashes, lit(0L),
          (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L)
            .otherwise(lit(-1L)))
        when(votes > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    // real corpus token hashes (the d4 shape: md5Hash60 per token,
    // 60 bits) plus degenerate rows: empty text, single token, null text
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).limit(50)
      .unionByName(Seq((9000001L, ""), (9000002L, "x"),
        (9000003L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val base = docs.withColumn("__hs", transform(
      graft.extensions.TextAnalysis.tokens(col("text")),
      t => Dedup.md5Hash60(t)))
    val rows = base.select(col("doc_id"),
        oldForm(col("__hs"), 60).as("old_sig"),
        SimHashSignature.simhash_signature(col("__hs"), 60).as("new_sig"))
      .collect()
    assert(rows.length > 50)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: ${r.getLong(1)} vs ${r.getLong(2)}")
    }
    // expression-level edges on 64 bits (the widest fingerprint):
    // null array and empty array → fingerprint 0 (never null); a null
    // ELEMENT votes −1 on every bit exactly like the lambda's
    // otherwise(-1) branch; sign bit (j=63) uses the same arithmetic
    // shift as the old shiftright
    val nullArr = lit(null).cast("array<bigint>")
    val edge = spark.range(1).select(
        oldForm(nullArr, 64).as("o1"),
        SimHashSignature.simhash_signature(nullArr, 64).as("n1"),
        oldForm(array().cast("array<bigint>"), 64).as("o2"),
        SimHashSignature.simhash_signature(
          array().cast("array<bigint>"), 64).as("n2"),
        oldForm(array(lit(-1L), lit(null).cast("bigint"), lit(-1L)), 64)
          .as("o3"),
        SimHashSignature.simhash_signature(
          array(lit(-1L), lit(null).cast("bigint"), lit(-1L)), 64).as("n3"))
      .collect()(0)
    assert(edge.getLong(0) == 0L && edge.getLong(1) == 0L)
    assert(edge.getLong(2) == 0L && edge.getLong(3) == 0L)
    assert(edge.getLong(4) == edge.getLong(5),
      s"null-element voting diverged: ${edge.getLong(4)} vs ${edge.getLong(5)}")
    assert(edge.getLong(5) == -1L,
      "two -1L elements against one null element must win every bit")
  }

  test("SrpSignature native expression equals the aggregate(zip_with) column form") {
    import graft.functions.SrpSignature
    // replicate the deterministic plane matrix (Similarity.planeMatrix:
    // Random(42), numPlanes x dims, values in [-1, 1))
    val (numPlanes, dims) = (16, 64)
    val rnd = new java.util.Random(42L)
    val planes = Array.fill(numPlanes, dims)(rnd.nextDouble() * 2 - 1)
    // the pre-round-4 column form, verbatim
    def oldForm(vec: org.apache.spark.sql.Column) =
      (0 until numPlanes).map { p =>
        val plane = typedlit(planes(p).toSeq)
        val proj = aggregate(
          zip_with(vec, slice(plane, lit(1), size(vec)),
            (x, c) => coalesce(x.cast("double") * c, lit(0.0))),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    // real embeddings plus edge rows: null vector (signs to 0L), empty
    // vector (0-projection sets every bit), vector LONGER than the
    // planes (extra components ignored), vector with a null element
    val edge = Seq(
      (9000001L, null.asInstanceOf[Array[Float]]),
      (9000002L, Array.empty[Float]),
      (9000003L, Array.fill(100)(0.5f)),
      (9000004L, Array(1.0f, -2.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).limit(100)
      .unionByName(edge)
    val rows = emb.select(col("vec_id"),
        oldForm(col("embedding")).as("old_sig"),
        SrpSignature.srp_signature(col("embedding"), planes).as("new_sig"))
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)}: ${r.getLong(1)} vs ${r.getLong(2)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byId(9000001L) == 0L, "null vector must sign to 0L")
    assert(byId(9000002L) == (1L << numPlanes) - 1,
      "empty vector projects 0.0 per plane, setting every bit")
  }

  test("top_k skips SQL NULLs like the rank/window form it replaces") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT top_k_3(v) FROM VALUES (1.0D), (CAST(NULL AS DOUBLE)), (5.0D)," +
        " (3.0D), (CAST(NULL AS DOUBLE)) AS t(v)")
      .collect()(0).getSeq[Double](0)
    assert(got == Seq(5.0, 3.0, 1.0))
  }
}
