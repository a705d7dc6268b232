package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.{Bitmaps, BM}
import graft.streaming.{AlertStateMachine, KvSink}

/** ScalaCheck properties for the pure (Spark-free) logic. */
object PureProps extends Properties("graft.pure") {

  private val evalSeqs: Gen[List[Boolean]] = Gen.listOf(Gen.oneOf(true, false))

  property("alert machine fires iff >= 3 consecutive breaches") =
    forAll(evalSeqs) { evals =>
      val finalState = evals.foldLeft(AlertStateMachine.initial)(
        (s, b) => AlertStateMachine.step(s, b))
      val trailing = evals.reverse.takeWhile(identity).length
      (finalState.status == "firing") == (trailing >= 3) &&
        finalState.consecutive == trailing
    }

  property("alert machine status is a pure function of the trailing run") =
    forAll(evalSeqs, evalSeqs) { (prefixA, prefixB) =>
      val tail = List(true, false, true)
      def run(evals: List[Boolean]) =
        evals.foldLeft(AlertStateMachine.initial)((s, b) => AlertStateMachine.step(s, b))
      run(prefixA ++ tail).status == run(prefixB ++ tail).status
    }

  private val metric: Gen[Double] = Gen.chooseNum(-1e6, 1e6)

  property("trend is 0 when previous is missing or zero") =
    forAll(metric) { cur =>
      KvSink.computeTrend(cur, None) == 0.0 &&
        KvSink.computeTrend(cur, Some(0.0)) == 0.0
    }

  property("trend sign matches direction of change") =
    forAll(metric, Gen.chooseNum(0.001, 1e6)) { (cur, prev) =>
      val t = KvSink.computeTrend(cur, Some(prev))
      Prop(
        if (cur > prev) t >= 0.0
        else if (cur < prev) t <= 0.0
        else t == 0.0).label(s"cur=$cur prev=$prev t=$t")
    }

  property("trend of an unchanged metric is 0") =
    forAll(Gen.chooseNum(0.001, 1e6)) { v =>
      KvSink.computeTrend(v, Some(v)) == 0.0
    }

  // ---- bottom-k sketch merge algebra (graft.functions.Sketches) ----

  import graft.functions.{Sketch, Sketches}

  private val hv: Gen[(Long, Double)] = for {
    h <- Gen.chooseNum(0L, 1000L) // small range forces hash ties
    v <- Gen.chooseNum(-100.0, 100.0)
  } yield (h, v)

  private def mk(xs: List[(Long, Double)], k: Int): Sketch = {
    val s = xs.sorted.take(k)
    Sketch(s.map(_._1).toVector, s.map(_._2).toVector)
  }

  private val sketchInput: Gen[(List[(Long, Double)], List[(Long, Double)], Int)] =
    for {
      a <- Gen.listOf(hv); b <- Gen.listOf(hv); k <- Gen.chooseNum(1, 8)
    } yield (a, b, k)

  property("sketch merge = bottom-k of the concatenated inputs") =
    forAll(sketchInput) { case (a, b, k) =>
      Sketches.mergeSketch(mk(a, k), mk(b, k), k) == mk(a ++ b, k)
    }

  property("sketch merge is commutative and respects the cap") =
    forAll(sketchInput) { case (a, b, k) =>
      val m = Sketches.mergeSketch(mk(a, k), mk(b, k), k)
      m == Sketches.mergeSketch(mk(b, k), mk(a, k), k) && m.hs.length <= k
    }

  property("sketch merge is associative under any split") =
    forAll(sketchInput, Gen.listOf(hv)) { case ((a, b, k), c) =>
      val l = Sketches.mergeSketch(Sketches.mergeSketch(mk(a, k), mk(b, k), k), mk(c, k), k)
      val r = Sketches.mergeSketch(mk(a, k), Sketches.mergeSketch(mk(b, k), mk(c, k), k), k)
      l == r
    }

  // ---- bitmap algebra: OR-merge must BE set union, across chunk bounds --

  // Ids straddle chunk boundaries (chunk = id >> 12) on purpose.
  private val idSet: Gen[List[Long]] =
    Gen.listOf(Gen.oneOf(
      Gen.chooseNum(0L, 100L), Gen.chooseNum(4090L, 4102L),
      Gen.chooseNum(8189L, 8194L), Gen.chooseNum(0L, 1000000L)))

  private def bm(ids: List[Long]): BM =
    ids.foldLeft(BM(Vector.empty, Vector.empty))((b, id) => Bitmaps.or(b, Bitmaps.set(id)))

  property("bitmap cardinality equals the set cardinality") =
    forAll(idSet) { ids => Bitmaps.cardinality(bm(ids)) == ids.toSet.size }

  property("bitmap OR is set union, commutative, idempotent") =
    forAll(idSet, idSet) { (a, b) =>
      val u = Bitmaps.or(bm(a), bm(b))
      Bitmaps.cardinality(u) == (a.toSet ++ b.toSet).size &&
        u == Bitmaps.or(bm(b), bm(a)) &&
        Bitmaps.or(u, u) == u
    }

  property("bitmap OR is associative under any split") =
    forAll(idSet, idSet, idSet) { (a, b, c) =>
      Bitmaps.or(Bitmaps.or(bm(a), bm(b)), bm(c)) ==
        Bitmaps.or(bm(a), Bitmaps.or(bm(b), bm(c)))
    }

  property("mutable BMBuf accumulation materializes the same BM as fold-of-or") =
    forAll(idSet, idSet) { (a, b) =>
      // The aggregation path (in-place add + in-place merge + toBM) must be
      // byte-identical to the persistent algebra it replaced.
      val x = a.foldLeft(new Bitmaps.BMBuf())(_.add(_))
      val y = b.foldLeft(new Bitmaps.BMBuf())(_.add(_))
      x.orInPlace(y).toBM == bm(a ++ b)
    }
}
