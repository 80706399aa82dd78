package graft

import graft.functions.HashColumns
import graft.graph.{Graph, GraphBuilder, Gx, Iterative}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class PropertySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Deterministic sampling loop (no scalatest-scalacheck bridge in the
    * offline cache): N samples from `gen` with fixed seeds. */
  private def forAllN[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val wordGen = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
  private val docGen = Gen.listOfN(20, wordGen).map(_.mkString(" "))

  test("jaccardSorted matches Scala set Jaccard on random docs") {
    forAllN(Gen.zip(docGen, docGen)) { case (d1, d2) =>
      val s1 = d1.split(" ").toSet
      val s2 = d2.split(" ").toSet
      val want =
        if ((s1 union s2).isEmpty) 0.0
        else (s1 intersect s2).size.toDouble / (s1 union s2).size
      val got = Seq((d1, d2)).toDF("a", "b")
        .select(HashColumns.jaccardSorted(
          array_sort(array_distinct(split($"a", " "))),
          array_sort(array_distinct(split($"b", " ")))).as("j"))
        .as[Double].head()
      assert(math.abs(got - want) < 1e-9)
    }
  }

  test("sortedIntersect matches array_intersect on random sorted sets") {
    val setGen = Gen.zip(
      Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted),
      Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted))
    forAllN(setGen, n = 12) { case (xs, ys) =>
      val got = Seq((xs, ys)).toDF("a", "b")
        .select(graft.functions.SortedLongIntersect
          .sortedIntersect($"a", $"b").as("i"))
        .as[Seq[Long]].head()
      val want = Seq((xs, ys)).toDF("a", "b")
        .select(array_sort(array_intersect($"a", $"b")).as("i"))
        .as[Seq[Long]].head()
      assert(got == want, s"xs=$xs ys=$ys")
      assert(got == got.sorted, "output must stay ascending")
    }
    // empties on either side
    assert(Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(graft.functions.SortedLongIntersect
        .sortedIntersect($"a", $"b")).as[Seq[Long]].head().isEmpty)
  }

  test("sortedIntersect keeps set semantics on duplicated inputs") {
    // Sorted-with-repeats generator: array_intersect dedupes, and so
    // must the merge (skip equal runs), even when a value repeats on
    // one or both sides.
    val dupGen = Gen.zip(
      Gen.listOf(Gen.choose(0L, 12L)).map(_.sorted),
      Gen.listOf(Gen.choose(0L, 12L)).map(_.sorted))
    forAllN(dupGen, n = 12) { case (xs, ys) =>
      val got = Seq((xs, ys)).toDF("a", "b")
        .select(graft.functions.SortedLongIntersect
          .sortedIntersect($"a", $"b").as("i"))
        .as[Seq[Long]].head()
      val want = Seq((xs, ys)).toDF("a", "b")
        .select(array_sort(array_intersect($"a", $"b")).as("i"))
        .as[Seq[Long]].head()
      assert(got == want, s"xs=$xs ys=$ys")
      assert(got == got.distinct, "output must be duplicate-free")
    }
    // pinned case: multiplicity min(2,3) must still emit once
    assert(Seq((Seq(1L, 1L, 2L, 2L, 2L), Seq(2L, 2L, 2L, 3L)))
      .toDF("a", "b")
      .select(graft.functions.SortedLongIntersect
        .sortedIntersect($"a", $"b")).as[Seq[Long]].head() == Seq(2L))
  }

  test("minhash equal-fraction is exactly 1 iff shingle sets are equal") {
    forAllN(Gen.zip(docGen, docGen)) { case (d1, d2) =>
      val est = Seq((d1, d2)).toDF("a", "b")
        .select(HashColumns.equalFraction(
          HashColumns.minhashSig(split($"a", " ")),
          HashColumns.minhashSig(split($"b", " "))).as("f"))
        .as[Double].head()
      val equalSets = d1.split(" ").toSet == d2.split(" ").toSet
      if (equalSets) assert(est == 1.0)
      else assert(est < 1.0)
    }
  }

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(15, for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  test("repetition signals match brute-force counting on random docs") {
    forAllN(Gen.listOfN(4, docGen), n = 4) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextAnalysis.repetitionSignals(df)
        .as[(Long, Double, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      docs.zipWithIndex.foreach { case (text, i) =>
        val toks = text.split("\\s+").toSeq
        val grams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        def r4(x: Double) = math.rint(x * 1e4) / 1e4
        val wantDupTok = r4(1.0 - toks.distinct.size.toDouble / toks.size)
        val wantTop = r4(counts.values.max.toDouble / grams.size)
        val wantDup = r4(counts.values.filter(_ > 1).sum.toDouble / grams.size)
        val (gotDupTok, gotTop, gotDup) = got(i.toLong)
        assert(math.abs(gotDupTok - wantDupTok) < 1e-9)
        assert(math.abs(gotTop - wantTop) < 1e-4 + 1e-9)
        assert(math.abs(gotDup - wantDup) < 1e-9)
      }
    }
  }

  test("sequence packing partitions the shard token stream exactly") {
    forAllN(Gen.listOfN(30, Gen.chooseNum(1, 50)), n = 4) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Seq.fill(n)("w").mkString(" ")) }.toDF("doc_id", "text")
      val r = graft.operators.Curation
        .sequencePacking(docs, seqLen = 16, shards = 4)
        .as[(Long, Int, Int, Long, Long)].collect()
      assert(r.length == lens.length)
      // within each shard (doc_id order) every doc starts exactly where
      // the previous one ended: seq_id/offset are the running total
      r.groupBy(_._2).foreach { case (_, rows) =>
        var expected = 0L
        rows.sortBy(_._1).foreach { case (_, _, n, seqId, off) =>
          assert(seqId == expected / 16 && off == expected % 16)
          expected += n
        }
      }
    }
  }

  test("triangle counts match brute-force enumeration on random graphs") {
    forAllN(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val g = Graph(GraphBuilder.vertices(edges.toDF("src", "dst")),
          edges.toDF("src", "dst"))
        val got = g.triangleVertexCounts.select("id", "triangles")
          .as[(Long, Long)].collect().toMap
        // brute force
        val es = edges.toSet
        def adj(v: Long) = es.collect {
          case (a, b) if a == v => b
          case (a, b) if b == v => a
        }
        val vs = es.flatMap(e => Seq(e._1, e._2))
        val want = vs.map { v =>
          val nb = adj(v).toSeq
          v -> nb.combinations(2).count { case Seq(x, y) =>
            es.contains((math.min(x, y), math.max(x, y)))
          }.toLong
        }.toMap
        assert(got == want, s"edges=$edges")
      }
    }
  }

  test("greedy coloring is proper and bounded on random graphs") {
    forAllN(edgeGen, n = 6) { edges =>
      val clean = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (clean.nonEmpty) {
        val e = clean.toDF("src", "dst")
        val g = Graph(GraphBuilder.vertices(e), e)
        val colors = Iterative.greedyColoring(g)
          .as[(Long, Long)].collect().toMap
        val vs = clean.flatMap(p => Seq(p._1, p._2)).toSet
        assert(colors.keySet == vs, s"uncolored vertices, edges=$clean")
        clean.foreach { case (a, b) =>
          assert(colors(a) != colors(b), s"monochromatic $a-$b, edges=$clean")
        }
        val maxDeg = vs.map(v =>
          clean.count(p => p._1 == v || p._2 == v)).max
        assert(colors.values.max <= maxDeg, s"palette blew greedy bound")
      }
    }
  }

  test("kTruss matches brute-force peel on random graphs") {
    forAllN(edgeGen, n = 6) { edges =>
      if (edges.nonEmpty) {
        val g = Graph(GraphBuilder.vertices(edges.toDF("src", "dst")),
          edges.toDF("src", "dst"))
        val got = graft.graph.Metrics.kTruss(g, k = 4)
          .select("src", "dst").as[(Long, Long)].collect().toSet
        // brute-force fixpoint peel
        var es = edges.toSet
        def support(e: (Long, Long), s: Set[(Long, Long)]): Int = {
          def nbr(v: Long) = s.collect {
            case (a, b) if a == v => b
            case (a, b) if b == v => a
          }
          (nbr(e._1) intersect nbr(e._2)).size
        }
        var changed = true
        while (changed) {
          val next = es.filter(e => support(e, es) >= 2)
          changed = next != es
          es = next
        }
        assert(got == es, s"edges=$edges")
      }
    }
  }

  test("connected components match brute-force union-find on random graphs") {
    // both sides of the vertex gate: the CSR kernel and GraphX's CC
    forAllN(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val (csr, pregel) = GraphReplays.bothBranches(edges)(
          Gx.connectedComponents(_).as[(Long, Long)].collect().toMap)
        val want = GraphReplays.components(edges)
        assert(csr == want, s"CSR branch, edges=$edges")
        assert(pregel == want, s"Pregel branch, edges=$edges")
      }
    }
  }
}
