package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Property-based tests for the codegen hash kernels — the invariants
  * the oracle gate exercises only on fixture-shaped text, here pushed
  * through arbitrary ASCII token streams (empty tokens, repeats,
  * single-char docs, long runs).
  */
class KernelPropertySpec extends AnyFunSuite {

  /** Run a scalacheck property under scalatest (no scalatestplus
    * bridge in the offline cache): fail the suite with the shrunk
    * counterexample on falsification.
    */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val Mod = 1000000007L
  private def polyHashRef(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % Mod)

  private val token: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
  private val tokens: Gen[List[String]] = Gen.listOf(token)

  private def arr(toks: Seq[String]): GenericArrayData =
    new GenericArrayData(toks.map(t => UTF8String.fromString(t)).toArray[Any])

  private def winnowRef(toks: Seq[String], n: Int, w: Int): Seq[Long] = {
    val m = toks.length - n + 1
    if (m < 1) return Seq.empty
    val hs = (0 until m).map(i => polyHashRef(toks.slice(i, i + n).mkString(" ")))
    val wins =
      if (m >= w) (0 to m - w).map(j => hs.slice(j, j + w).min)
      else Seq(hs.min)
    wins.distinct
  }

  test("polyHash kernel == reference fold for arbitrary ASCII strings") {
    check(forAll(Gen.asciiPrintableStr) { s =>
      functions.HashKernels.polyHash(UTF8String.fromString(s)) == polyHashRef(s)
    })
  }

  test("winnow kernel == reference fold for arbitrary token arrays and (n, w)") {
    val params = for {
      ts <- tokens; n <- Gen.chooseNum(1, 4); w <- Gen.chooseNum(1, 5)
    } yield (ts, n, w)
    check(forAll(params) { case (ts, n, w) =>
      val got = functions.HashKernels.winnowFingerprints(arr(ts), n, w)
        .toLongArray().toSeq
      got.sorted == winnowRef(ts, n, w).sorted
    })
  }

  test("winnow guarantee: a shared run of >= w+n-1 tokens shares a fingerprint") {
    // distinct-token runs (the guarantee is stated for non-degenerate
    // shingle sequences; duplicate tokens can collapse windows)
    val distinctRun = Gen.chooseNum(6, 12)
      .map(k => (0 until k).map(i => s"s$i"))
    val pads = Gen.listOfN(4, token)
    val cases = for { run <- distinctRun; p1 <- pads; p2 <- pads } yield (run, p1, p2)
    check(forAll(cases) { case (run, p1, p2) =>
      val a = p1 ++ run
      val b = run ++ p2
      val fa = functions.HashKernels.winnowFingerprints(arr(a), 3, 4).toLongArray().toSet
      val fb = functions.HashKernels.winnowFingerprints(arr(b), 3, 4).toLongArray().toSet
      Prop(fa.intersect(fb).nonEmpty) :| s"a=$a b=$b"
    })
  }

  test("shingleHashes == distinct slice/join/polyHash values in first-seen order") {
    // empty tokens (double spaces) and non-ASCII BMP chars; n past the
    // token count yields no shingles
    val wideTok: Gen[String] = Gen.chooseNum(0, 5).flatMap(k =>
      Gen.stringOfN(k, Gen.oneOf(Gen.alphaNumChar, Gen.choose(' ', '퟿'))))
    val params = for {
      ts <- Gen.listOf(wideTok); n <- Gen.oneOf(1, 2, 3, 8)
    } yield (ts, n)
    check(forAll(params) { case (ts, n) =>
      val got = functions.HashKernels.shingleHashes(arr(ts), n).toLongArray().toSeq
      val expect = (0 to ts.length - n)
        .map(p => polyHashRef(ts.slice(p, p + n).mkString(" "))).distinct
      Prop(got == expect) :| s"toks=$ts n=$n got=$got expect=$expect"
    })
  }

  test("positionalShingles == per-position slice/join/polyHash reference") {
    val params = for { ts <- tokens; n <- Gen.chooseNum(1, 5) } yield (ts, n)
    check(forAll(params) { case (ts, n) =>
      val got = functions.HashKernels.positionalShingles(arr(ts), n)
      val rows = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
      val m = ts.length - n + 1
      val expect = (0 until math.max(m, 0)).map(p =>
        (p + 1, polyHashRef(ts.slice(p, p + n).mkString(" "))))
      Prop(rows == expect) :| s"toks=$ts n=$n got=$rows expect=$expect"
    })
  }

  test("orderedPairs emits exactly the a<b pairs of the sorted id set") {
    check(forAll(Gen.listOf(Gen.chooseNum(-1000000L, 1000000L))) { ids =>
      val got = functions.HashKernels.orderedPairs(new GenericArrayData(ids.toArray[Any]))
      val rows = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }
      val s = ids.sorted
      val expect = for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
      rows == expect
    })
  }

  test("sortedIntersectCount == set-intersection size for arbitrary sorted long sets") {
    val longs: Gen[List[Long]] = Gen.listOf(Gen.chooseNum(-50L, 50L))
    check(forAll(longs, longs) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      functions.HashKernels.sortedIntersectCount(
        new GenericArrayData(sa.toArray),
        new GenericArrayData(sb.toArray)) == (sa.toSet & sb.toSet).size.toLong
    })
  }

  test("windowedPairs kernel == reference enumeration for arbitrary sparse positions") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val entry: Gen[(Int, String)] = for {
      p <- Gen.chooseNum(0, 60)
      t <- Gen.oneOf("a", "b", "c", "d")
    } yield (p, t)
    check(forAll(Gen.listOf(entry), Gen.chooseNum(1, 7)) { (es, w) =>
      // distinct positions, pos-sorted — the collect_list(struct) contract
      val s = es.toMap.toSeq.sortBy(_._1)
      val in = new GenericArrayData(s.map { case (p, t) =>
        new GenericInternalRow(Array[Any](p, UTF8String.fromString(t)))
      }.toArray[Any])
      val got = {
        val g = functions.HashKernels.windowedPairs(in, w)
        (0 until g.numElements()).map { i =>
          val r = g.getStruct(i, 2); (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
        }
      }
      val want = for {
        i <- s.indices; j <- i + 1 until s.length
        if s(j)._1 <= s(i)._1 + w && s(i)._2 != s(j)._2
      } yield (if (s(i)._2 <= s(j)._2) (s(i)._2, s(j)._2) else (s(j)._2, s(i)._2))
      got == want
    })
  }

  test("bucketCounts kernel == histogram of polyHash(tok) % nBuckets") {
    check(forAll(Gen.listOf(token)) { toks =>
      val got = {
        val g = functions.HashKernels.bucketCounts(arr(toks), 64)
        (0 until g.numElements()).map(g.getLong)
      }
      val want = {
        val c = new Array[Long](64)
        toks.foreach(t => c((polyHashRef(t) % 64).toInt) += 1)
        c.toSeq
      }
      got == want
    })
  }

  test("simhash kernel == per-bit majority vote of token polyhashes") {
    check(forAll(Gen.nonEmptyListOf(token)) { toks =>
      val hs = toks.map(polyHashRef)
      val want = (0 until 30).map { b =>
        if (hs.count(h => ((h >> b) & 1L) == 1L) * 2 > hs.length) 1L << b else 0L
      }.sum
      functions.HashKernels.simhash(arr(toks), 30) == want
    })
  }

  test("simhashDual == 31-family majority in the low 30 bits, 37-family in the high 30") {
    def polyHashMulRef(s: String, mul: Int): Long =
      s.foldLeft(0L)((h, c) => (h * mul + c) % Mod)
    check(forAll(Gen.nonEmptyListOf(token)) { toks =>
      def vote(hs: Seq[Long], shift: Int): Long = (0 until 30).map { b =>
        if (hs.count(h => ((h >> b) & 1L) == 1L) * 2 > hs.length) 1L << (shift + b) else 0L
      }.sum
      val want = vote(toks.map(polyHashRef), 0) |
        vote(toks.map(polyHashMulRef(_, 37)), 30)
      functions.HashKernels.simhashDual(arr(toks)) == want
    })
  }

  test("bpeMerge kernel == reference greedy fold for arbitrary token runs") {
    def ref(toks: Seq[String], l: String, r: String): Seq[String] =
      toks.foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == l && t == r) acc.init :+ (acc.last + " " + t)
        else acc :+ t
      }
    val tinyTok = Gen.oneOf("a", "b", "ab", "")
    check(forAll(Gen.listOf(tinyTok), tinyTok, tinyTok) { (toks, l, r) =>
      val got = functions.HashKernels.bpeMerge(
          arr(toks), UTF8String.fromString(l), UTF8String.fromString(r))
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == ref(toks, l, r)
    })
  }
}
