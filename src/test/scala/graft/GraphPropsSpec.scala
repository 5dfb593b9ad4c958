package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.operators.{Graph, Joins}

/** Property-based guards for the round-4 reconciliation/graph operators:
  * PageRank state totality + mass conservation on ARBITRARY directed
  * graphs (the fixed fixtures in ScaleSpec only cover three shapes),
  * and snapshotDiff's classification agreeing with plain set algebra on
  * random corpus evolutions. */
object GraphPropsSpec extends Properties("graft.graph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val nodeGen: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e", "f")

  /** Random directed edge list; self-loops filtered, duplicates removed
    * (pageRank's documented input contract). */
  private val edgesGen: Gen[List[(String, String)]] =
    Gen.nonEmptyListOf(Gen.zip(nodeGen, nodeGen))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.nonEmpty)

  property("pageRank node set is invariant; mass conserved on closed graphs") =
    forAll(edgesGen, Gen.choose(1, 4)) { (es, iters) =>
      (es.nonEmpty) ==> {
        val ranks = Graph.pageRank(es.toDF("src", "dst"), iterations = iters)
          .as[(String, Double)].collect().toMap
        val sources = es.map(_._1).toSet
        val closed = es.map(_._2).toSet.subsetOf(sources)
        // totality: node set == sources on ANY graph (nobody drops out,
        // no destination smuggles in); mass conservation additionally
        // holds exactly when no edge points outside the ranked set
        ranks.keySet == sources &&
          ranks.values.forall(r => r > 0.0 && r < 1.0 + 1e-9) &&
          (!closed ||
            math.abs(ranks.values.sum - 1.0) <= 1e-6 * math.max(1, sources.size))
      }
    }

  property("weighted pageRank holds the same invariants under random positive weights") =
    forAll(edgesGen, Gen.choose(1, 3)) { (es, iters) =>
      (es.nonEmpty) ==> {
        // deterministic per-edge weight (no RNG inside the property)
        val weighted = es.map { case (a, b) =>
          (a, b, 1L + math.abs((a + b).hashCode) % 5)
        }
        val ranks = Graph
          .pageRank(weighted.toDF("src", "dst", "w"), iterations = iters,
            weightCol = Some("w"))
          .as[(String, Double)].collect().toMap
        val sources = es.map(_._1).toSet
        val closed = es.map(_._2).toSet.subsetOf(sources)
        ranks.keySet == sources &&
          ranks.values.forall(r => r > 0.0 && r < 1.0 + 1e-9) &&
          (!closed ||
            math.abs(ranks.values.sum - 1.0) <= 1e-6 * math.max(1, sources.size))
      }
    }

  property("pageRankConverged stops at the first L1 residual < ε and equals that fixed-iteration system") =
    forAll(edgesGen, Gen.choose(1, 3), Gen.oneOf(0.05, 0.3, 1.0, 2.0)) {
      (es, maxIters, eps) =>
        (es.nonEmpty) ==> {
          val edges = es.toDF("src", "dst")
          val (got, k) = Graph.pageRankConverged(edges, maxIters, eps)
          // independent replay: fixed-iteration states from the public
          // API, residuals decimal-rounded exactly as the operator sums
          // them (12 dp per |Δ|)
          def at(i: Int): Map[String, Double] =
            if (i == 0) {
              val n = es.map(_._1).distinct.size
              es.map(_._1).distinct.map(_ -> 1.0 / n).toMap
            } else Graph.pageRank(edges, i).as[(String, Double)]
              .collect().toMap
          val states = (0 to maxIters).map(at)
          val l1 = (1 to maxIters).map { i =>
            states(i).map { case (node, r) =>
              BigDecimal(math.abs(r - states(i - 1)(node)))
                .setScale(12, BigDecimal.RoundingMode.HALF_UP)
            }.sum.toDouble
          }
          val expected = l1.indexWhere(_ < eps) match {
            case -1 => maxIters
            case i  => i + 1
          }
          k == expected &&
            got.as[(String, Double)].collect().toMap == states(k)
        }
    }

  property("a shared Run serves every consumer identically to fresh one-shot calls") =
    forAll(edgesGen, Gen.choose(2, 4)) { (es, hi) =>
      (es.nonEmpty) ==> {
        val edges = es.toDF("src", "dst")
        val run = Graph.run(edges)
        // deeper-first: ranks(hi) populates the iterate cache, then the
        // SHALLOWER consumer and the ε-stop must still read the same
        // states a fresh one-shot derivation computes — an off-by-one
        // in the prefix reuse would corrupt exactly this
        val deep = run.ranks(hi).as[(String, Double)].collect().toMap
        val shallow = run.ranks(hi - 1).as[(String, Double)].collect().toMap
        val (conv, k) = run.converged(hi, 0.5)
        val freshDeep = Graph.pageRank(edges, hi)
          .as[(String, Double)].collect().toMap
        val freshShallow = Graph.pageRank(edges, hi - 1)
          .as[(String, Double)].collect().toMap
        val (freshConv, freshK) = Graph.pageRankConverged(edges, hi, 0.5)
        deep == freshDeep && shallow == freshShallow && k == freshK &&
          conv.as[(String, Double)].collect().toMap ==
            freshConv.as[(String, Double)].collect().toMap
      }
    }

  property("personalizedPageRank: totality, range, seeded-mass conservation on closed graphs") =
    forAll(edgesGen, Gen.choose(1, 3), Gen.nonEmptyListOf(nodeGen)) {
      (es, iters, seedPool) =>
        val sources = es.map(_._1).toSet
        val seeds = seedPool.toSet.intersect(sources)
        (es.nonEmpty && seeds.nonEmpty) ==> {
          val ranks = Graph.personalizedPageRank(es.toDF("src", "dst"),
              seeds.toSeq.toDF("node"), iterations = iters)
            .as[(String, Double)].collect().toMap
          val closed = es.map(_._2).toSet.subsetOf(sources)
          // reachability from the seed set along directed edges
          val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          var reached = seeds
          var frontier = seeds
          while (frontier.nonEmpty) {
            val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
              .intersect(sources) -- reached
            reached ++= next
            frontier = next
          }
          ranks.keySet == sources &&
            ranks.values.forall(r => r >= 0.0 && r < 1.0 + 1e-9) &&
            (sources -- reached).forall(n => ranks(n) == 0.0) &&
            (!closed ||
              math.abs(ranks.values.sum - 1.0) <= 1e-6 * math.max(1, sources.size))
        }
    }

  property("triangleCount matches brute-force enumeration on random graphs") =
    forAll(edgesGen) { es =>
      (es.nonEmpty) ==> {
        val got = Graph.triangleCount(es.toDF("src", "dst"))
          .as[(String, Long)].collect().toMap
        // brute force: canonical undirected edge set, enumerate all
        // node triples, count per node
        val und = es.map { case (a, b) =>
          if (a < b) (a, b) else (b, a)
        }.toSet
        val nodes = und.flatMap(e => Set(e._1, e._2)).toList.sorted
        val expected = scala.collection.mutable.Map[String, Long]()
        for {
          i <- nodes.indices; j <- (i + 1) until nodes.size
          k <- (j + 1) until nodes.size
          (a, b, c) = (nodes(i), nodes(j), nodes(k))
          if und((a, b)) && und((b, c)) && und((a, c))
          n <- Seq(a, b, c)
        } expected(n) = expected.getOrElse(n, 0L) + 1L
        got == expected.toMap
      }
    }

  property("edgeJaccard matches brute-force neighbor-set algebra on random graphs") =
    forAll(edgesGen) { es =>
      (es.nonEmpty) ==> {
        val got = Graph.edgeJaccard(es.toDF("src", "dst"))
          .as[(String, String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
        val und = es.map { case (a, b) =>
          if (a < b) (a, b) else (b, a)
        }.toSet
        val nbrs = und.toList.flatMap { case (a, b) => List(a -> b, b -> a) }
          .groupBy(_._1).map { case (n, l) => n -> l.map(_._2).toSet }
        val expected = und.map { case (a, b) =>
          val c = (nbrs(a) intersect nbrs(b)).size.toLong
          (a, b) -> (c, c.toDouble / (nbrs(a).size + nbrs(b).size - c))
        }.toMap
        got == expected
      }
    }

  property("hits: sides are total, L1-normalized, and star-center wins") =
    forAll(edgesGen, Gen.choose(1, 3)) { (es, iters) =>
      // direct all edges low→high so both sides are non-empty and
      // acyclic-bipartite-ish shapes occur; plus a star center 'z'
      // pulled by every source — 'z' must be the unique top authority
      val directed = es.map { case (a, b) =>
        if (a < b) (a, b) else (b, a)
      }.distinct
      val star = directed.map(_._1).distinct.map(_ -> "z")
      val edges = (directed ++ star).distinct
      val got = Graph.hits(edges.toDF("src", "dst"), iterations = iters)
        .as[(String, String, Double)].collect().toSeq
      val (hubs, auths) = got.partition(_._1 == "hub")
      val srcSet = edges.map(_._1).toSet
      val dstSet = edges.map(_._2).toSet
      // totality: one score per side-node
      hubs.map(_._2).toSet == srcSet && auths.map(_._2).toSet == dstSet &&
      // L1: each side sums to 1 within the 9-dp rounding budget
      math.abs(hubs.map(_._3).sum - 1.0) < 1e-6 &&
      math.abs(auths.map(_._3).sum - 1.0) < 1e-6 &&
      // the star center is a MAXIMAL authority: its in-set is every
      // hub, so no node can outscore it (ties allowed — a node the
      // same full hub set points at scores equal, not less)
      {
        val z = auths.find(_._2 == "z").get._3
        auths.forall(_._3 <= z)
      }
    }

  property("hits: the shuffle-join plan (broadcast off) is score-identical") =
    forAll(edgesGen) { es =>
      val edges = es.map { case (a, b) => (a, b + "$") }
      val df = edges.toDF("src", "dst")
      val a = Graph.hits(df, iterations = 2)
        .as[(String, String, Double)].collect().toSet
      val b = SparkTestSession.withBroadcastOff {
        Graph.hits(df, iterations = 2)
          .as[(String, String, Double)].collect().toSet
      }
      a == b
    }

  private val longEdgesGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.nonEmpty)

  property("connectedComponents = brute-force union-find, both engine paths") =
    forAll(longEdgesGen) { es =>
      // local ground truth: min-id component labels via union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) {
          parent(r) = parent(parent(r)); r = parent(r)
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val df = es.toDF("src", "dst")
      val driver = Graph.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      // distributed alternating-min fallback must label identically —
      // the path a >5M-edge graph takes on a real cluster
      val dist = Graph.connectedComponents(df, driverEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      driver == expected && dist == expected
    }

  private val corpusGen: Gen[Map[Long, String]] =
    Gen.mapOf(Gen.zip(Gen.choose(0L, 12L), Gen.oneOf("x", "y", "z")))

  property("snapshotDiff matches set algebra on random evolutions") =
    forAll(corpusGen, corpusGen) { (m1, m2) =>
      (m1.nonEmpty || m2.nonEmpty) ==> {
        val v1 = m1.toSeq.toDF("doc_id", "text")
        val v2 = m2.toSeq.toDF("doc_id", "text")
        val got = Joins.snapshotDiff(v1, v2, "doc_id",
            df => md5(df("text").cast("binary")))
          .select("doc_id", "status").as[(Long, String)].collect().toMap
        val expected =
          (m1.keySet ++ m2.keySet).map { id =>
            id -> ((m1.get(id), m2.get(id)) match {
              case (None, Some(_)) => "added"
              case (Some(_), None) => "removed"
              case (Some(a), Some(b)) if a != b => "changed"
              case _ => "unchanged"
            })
          }.toMap
        got == expected
      }
    }
}
