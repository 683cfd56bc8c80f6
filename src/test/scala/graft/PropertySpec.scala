package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, ParallelMap}
import graft.functions.Parity

/** Property tier — replaces the reference's chaos tests (FIXTURES.md §B:
  * "property-based (ScalaCheck) in place of the reference's chaos tier").
  * Each property pins an invariant the engine's correctness rests on.
  * (Raw ScalaCheck Gen + fixed seeds: the scalatest bridge artifact is
  * not in the offline dependency cache.)
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic sampling harness: N cases from a fixed seed. */
  private def forAllN[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  test("property: parallel map is a multiset-preserving bijection") {
    forAllN(Gen.listOf(Gen.chooseNum(-1000000, 1000000))) { xs =>
      val out = ParallelMap.run(spark, xs)(x => x * 2 + 1)
      assert(out.sorted == xs.map(_ * 2 + 1).sorted)
    }
  }

  test("property: decimal sums are partitioning-invariant (bit-identical)") {
    import spark.implicits._
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))
      parts <- Gen.chooseNum(2, 16)
    } yield (xs, parts)
    forAllN(gen, n = 8) { case (xs, parts) =>
      val df = xs.toDF("v")
      val a = df.repartition(1).agg(Parity.dsum(col("v"), 4)).head().getDouble(0)
      val b = df.repartition(parts).agg(Parity.dsum(col("v"), 4)).head().getDouble(0)
      assert(a == b)
    }
  }

  private case class Ev(id: Long, key: Long, t: Long)
  private case class Ord(key: Long, t: Long, ok: Long)

  test("property: as-of join matches the brute-force definition") {
    import spark.implicits._
    val genEv = for {
      id <- Gen.chooseNum(0L, 1000L); key <- Gen.chooseNum(0L, 5L)
      t <- Gen.chooseNum(0L, 100L)
    } yield Ev(id, key, t)
    val genOrd = for {
      key <- Gen.chooseNum(0L, 5L); t <- Gen.chooseNum(0L, 100L)
      ok <- Gen.chooseNum(0L, 1000L)
    } yield Ord(key, t, ok)
    val gen = for {
      evs0 <- Gen.listOfN(30, genEv)
      ords0 <- Gen.listOfN(30, genOrd)
    } yield (
      evs0.groupBy(_.id).map(_._2.head).toList,  // unique event ids
      ords0.groupBy(_.ok).map(_._2.head).toList  // unique order keys
    )
    forAllN(gen, n = 8) { case (evs, ords) =>
      val left = evs
        .map(e => (e.id, e.key, new java.sql.Timestamp(e.t * 1000)))
        .toDF("event_id", "user_id", "ts")
      val right = ords
        .map(o => (o.key, new java.sql.Timestamp(o.t * 1000), o.ok, o.ok * 1.5))
        .toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      val got = AsOfJoin
        .latestAtOrBefore(left, right, "user_id", "o_custkey", "ts",
          "o_orderdate", "o_orderkey", Seq("o_orderkey", "o_totalprice"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(r.fieldIndex("o_orderkey"))) None
           else Some(r.getLong(r.fieldIndex("o_orderkey")))))
        .toMap
      val want = evs.map { e =>
        val c = ords.filter(o => o.key == e.key && o.t <= e.t)
        e.id -> (if (c.isEmpty) None else Some(c.maxBy(o => (o.t, o.ok)).ok))
      }.toMap
      assert(got == want)
    }
  }

  test("property: bit-band SimHash pair scan equals brute-force all-pairs") {
    import spark.implicits._
    val genFps = Gen.listOfN(
      120,
      Gen.chooseNum(0, (1 << 16) - 1)
    )
    forAllN(genFps, n = 5) { hs =>
      val fps = hs.zipWithIndex
        .map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "simhash")
      val got = graft.queries.LlmOps
        .simhashBandPairs(fps, bits = 16, radius = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val want = (for {
        (a, i) <- hs.zipWithIndex
        (b, j) <- hs.zipWithIndex
        if i < j
        hd = Integer.bitCount(a ^ b)
        if hd <= 3
      } yield (i.toLong, j.toLong, hd)).toSet
      assert(got == want, s"band scan lost/invented pairs (${got.size} vs ${want.size})")
    }
  }

  test("property: 64-bit band scan equals brute force, incl. sign-bit fingerprints") {
    import spark.implicits._
    // clustered fingerprints (a few bases, each perturbed by <=5 bit flips)
    // so Hamming<=3 pairs actually occur; bases biased to set bit 63 so the
    // top band exercises arithmetic-shift + mask on negative Longs
    val genBase = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, -1L), // sign bit set
      Gen.chooseNum(Long.MinValue, Long.MaxValue)
    )
    val genFps = for {
      bases <- Gen.listOfN(6, genBase)
      fps <- Gen.listOfN(
        80,
        for {
          b <- Gen.oneOf(bases)
          nFlips <- Gen.chooseNum(0, 5)
          flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 63))
        } yield flips.foldLeft(b)((acc, p) => acc ^ (1L << p))
      )
    } yield fps
    forAllN(genFps, n = 5) { hs =>
      val fps = hs.zipWithIndex
        .map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "simhash")
      val got = graft.queries.LlmOps
        .simhashBandPairs(fps, bits = 64, radius = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val want = (for {
        (a, i) <- hs.zipWithIndex
        (b, j) <- hs.zipWithIndex
        if i < j
        hd = java.lang.Long.bitCount(a ^ b)
        if hd <= 3
      } yield (i.toLong, j.toLong, hd)).toSet
      assert(got == want, s"64-bit band scan lost/invented pairs (${got.size} vs ${want.size})")
    }
  }

  test("property: triangle self-join covers every unordered pair exactly once") {
    import spark.implicits._
    forAllN(Gen.chooseNum(1, 60), n = 5) { n =>
      val df = (0 until n).map(i => (i.toLong, s"p$i")).toDF("vec_id", "payload")
      val pairs = graft.queries.LlmOps
        .triangleSelfJoin(spark, df, "vec_id", Seq("payload"), nBlocks = 4)
        .select(col("x.vec_id"), col("y.vec_id"))
        .collect()
        .map(r => {
          val (a, b) = (r.getLong(0), r.getLong(1))
          (math.min(a, b), math.max(a, b))
        })
        .toSeq
      val want = (for { i <- 0 until n; j <- i + 1 until n } yield (i.toLong, j.toLong)).toSeq
      // exactly once: as a multiset, no pair missing, none duplicated
      assert(pairs.sorted == want.sorted,
        s"n=$n: got ${pairs.size} pairs, want ${want.size}")
    }
  }

  test("property: runAttributed indexes every input exactly once") {
    forAllN(Gen.listOf(Gen.alphaStr)) { xs =>
      val out = ParallelMap.runAttributed(spark, xs)(_.length)
      assert(out.map(_._1).sorted == xs.indices.map(_.toLong))
    }
  }

  test("property: two-level packing prefix sum equals the naive driver fold") {
    import spark.implicits._
    // Adversarial doc_id distributions: sparse ids with large gaps and
    // clusters around bucket boundaries (multiples of 256) — the layouts
    // where a bucket-offset bug would misplace bins. Token counts via
    // synthetic texts of w repeated words.
    val gen = for {
      n <- Gen.chooseNum(1, 80)
      ids <- Gen.listOfN(
        n,
        Gen.oneOf(
          Gen.chooseNum(0L, 10000L),
          Gen.chooseNum(250L, 262L), // straddles the 256 bucket edge
          Gen.chooseNum(0L, 5L).map(_ * 256L) // exactly on edges
        )
      )
      ws <- Gen.listOfN(n, Gen.chooseNum(1, 40))
    } yield ids.distinct.zip(ws)
    forAllN(gen, n = 8) { docs =>
      val df = docs
        .map { case (id, w) => (id, Seq.fill(w)("tok").mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.queries.LlmOps
        .packedBinsOf(df)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      // naive reference: one sequential fold over doc_id order
      val budget = 512L
      var cum = 0L
      val placed = docs.sortBy(_._1).map { case (_, w) =>
        val s0 = cum; cum += w
        val bin = s0 / budget
        (bin, w.toLong, if ((cum - 1) / budget > bin) 1L else 0L)
      }
      val want = placed
        .groupBy(_._1)
        .map { case (bin, xs) =>
          (bin, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum)
        }
        .toSeq
        .sortBy(_._1)
      assert(got == want, s"docs=$docs")
    }
  }

  test("property: boilerplate strip equals the brute-force chunk reference") {
    import spark.implicits._
    def md5Hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    val w = 16
    // docs assembled from a small pool of 16-token blocks (so cross-doc
    // boilerplate actually occurs) plus a random unaligned tail — tails
    // exercise the short final chunk, block reuse exercises nd >= 2
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val block = Gen.listOfN(w, word).map(_.mkString(" "))
    val gen = for {
      pool <- Gen.listOfN(4, block)
      docs <- Gen.listOfN(
        8,
        for {
          nBlocks <- Gen.chooseNum(0, 3)
          blocks <- Gen.listOfN(nBlocks, Gen.oneOf(pool))
          tailLen <- Gen.chooseNum(0, 20)
          tail <- Gen.listOfN(tailLen, word)
        } yield (blocks ++ (if (tail.isEmpty) Nil else Seq(tail.mkString(" ")))).mkString(" ")
      )
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAllN(gen, n = 6) { docs =>
      // brute-force reference: chunk, count distinct docs per chunk text,
      // keep nd < 2 chunks in order
      def toks(t: String) = t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      val chunked = docs
        .map { case (id, t) => id -> toks(t).grouped(w).map(_.mkString(" ")).toVector }
        .filter(_._2.nonEmpty)
      val nd = chunked
        .flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
        .groupBy(_._1)
        .map { case (c, xs) => c -> xs.map(_._2).distinct.size }
      val want = chunked.map { case (id, cs) =>
        val kept = cs.filter(c => nd(c) < 2)
        (id, cs.size.toLong, kept.size.toLong,
          kept.map(c => toks(c).size.toLong).sum, md5Hex(kept.mkString(" ")))
      }.sortBy(_._1)
      val got = queries.LlmOps
        .boilerplateStripOf(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSeq
        .sortBy(_._1)
      assert(got == want)
    }
  }

  test("property: unigram NLL equals the BigDecimal reference bit-for-bit") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    // occurrence rows over a tiny vocab: hot tokens, singleton tokens,
    // multi-occurrence docs — the shapes the decimal chain must survive
    val gen = Gen.nonEmptyListOf(
      for {
        doc <- Gen.chooseNum(0L, 5L)
        tok <- Gen.oneOf("a", "b", "c", "d", "e")
      } yield (doc, tok)
    )
    forAllN(gen, n = 8) { occ =>
      // reference: quantize each -ln(cnt/tt) to scale 9 HALF_UP (Spark's
      // decimal-cast rounding), sum exactly, one double division
      val cnt = occ.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
      val tt = occ.size.toLong
      val nlp = cnt.map { case (t, c) =>
        t -> JBD.valueOf(-math.log(c.toDouble / tt.toDouble)).setScale(9, RoundingMode.HALF_UP)
      }
      val want = occ
        .groupBy(_._1)
        .map { case (doc, xs) =>
          val s = xs.map(x => nlp(x._2)).reduce(_.add(_))
          (doc, xs.size.toLong, s.doubleValue / xs.size)
        }
        .toSeq
        .sortBy(_._1)
      val got = queries.LlmOps
        .unigramNllOf(occ.toDF("doc_id", "tok"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
        .sortBy(_._1)
      assert(got == want)
    }
  }

  test("property: connected components match driver-side union-find") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(5, 60) // edges over a sparse id space => mixed shapes
      edges <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L)))
    } yield edges
    forAllN(gen, n = 6) { edges =>
      // oracle: textbook union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min-id canonical labels from the union-find forest
      val want = {
        val byRoot = nodes.groupBy(find)
        nodes.map(v => v -> byRoot(find(v)).min).toMap
      }
      val got = graft.operators.ConnectedComponents
        .components(edges.toDF("a", "b"), "a", "b")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("property: rank-based q22 percentiles equal the percentile() UDAF bit-for-bit") {
    // q22 replaced the buffering percentile() UDAF with a bounded-state
    // rank/interpolation form; this pins exact (not approximate) double
    // equality against the UDAF across adversarial shapes — heavy ties,
    // NULLs, singleton groups, all-NULL groups — where an off-by-one rank
    // or a reordered interpolation would diverge in the last ulp.
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 80)
      rows <- Gen.listOfN(
        n,
        for {
          g <- Gen.oneOf("A", "B", "C")
          v <- Gen.frequency(
            4 -> Gen.chooseNum(0, 15).map(i => Some(i.toDouble)), // heavy ties
            3 -> Gen.chooseNum(0.0, 1e6).map(Some(_)),
            1 -> Gen.const(Option.empty[Double])
          )
        } yield (g, v)
      )
    } yield rows
    forAllN(gen, n = 6) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graft-q22prop-").toString
      val df = rows.toDF("o_orderpriority", "o_totalprice")
      df.write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val ours = SparkEntry
        .queries("q22_price_percentiles")(spark, dir)
        .collect()
        .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
      val ref = df
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          count(lit(1)).as("n")
        )
        .orderBy("o_orderpriority")
        .collect()
        .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
      assert(ours.toSeq == ref.toSeq, s"rows=$rows")
    }
  }

  test("property: t28 temperature allocation matches the integer model, is monotone, and fits the budget") {
    import spark.implicits._
    // random per-source sizes; the engine's per-source n_target must equal
    // the independent Scala restatement of the published allocation
    // (w = floor(sqrt(n·2^40)), target = (M·w) div ΣW, M = total div 2),
    // stay monotone in source size, and sum (capped) within the budget
    val gen = for {
      k <- Gen.chooseNum(2, 6)
      ns <- Gen.listOfN(k, Gen.chooseNum(1, 60))
    } yield ns
    forAllN(gen, n = 8) { ns =>
      var id = 0L
      val rows = ns.zipWithIndex.flatMap { case (n, si) =>
        (0 until n).map { _ =>
          id += 1
          (id, f"s$si%02d", s"doc $id body ${"x" * (id % 7).toInt}")
        }
      }
      val out = graft.queries.LlmOps
        .temperatureMixingOf(rows.toDF("doc_id", "source", "text"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap // source -> (n_docs, w, n_target, n_kept)
      val w = ns.map(n => math.sqrt(n.toDouble * 1099511627776.0).toLong)
      val bigW = w.sum
      val m = ns.map(_.toLong).sum / 2
      ns.zipWithIndex.foreach { case (n, si) =>
        val (nd, gw, tgt, kept) = out(f"s$si%02d")
        assert(nd == n && gw == w(si), s"counts/weights diverged for s$si")
        assert(tgt == m * w(si) / bigW, s"target model diverged for s$si: $tgt")
        assert(kept <= nd, "kept beyond the source size")
      }
      // monotone: a bigger source never gets a smaller target
      val bySize = ns.zipWithIndex.sortBy(_._1).map { case (_, si) => out(f"s$si%02d")._3 }
      assert(bySize == bySize.sorted, s"allocation not monotone: $bySize")
      // capped targets fit the budget (sum of floors <= M)
      val capped = ns.zipWithIndex.map { case (n, si) => math.min(out(f"s$si%02d")._3, n.toLong) }
      assert(capped.sum <= m, s"over budget: ${capped.sum} > $m")
    }
    Hygiene.release(spark)
  }
}
