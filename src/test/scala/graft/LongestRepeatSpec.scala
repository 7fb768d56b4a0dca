package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** q_longest_repeat against a plain-Scala suffix-pair brute force, on
  * seeded random corpora and on the inputs that exercise each branch of
  * seed-and-extend; plus the query's footprint: what it leaves
  * persisted, how many jobs it runs, and no per-width plan branches.
  */
class LongestRepeatSpec extends SparkSpec {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  /** A fixture dir whose documents table holds `texts`, doc_ids 1..n. */
  private def fixture(texts: Seq[String]): String = {
    val dir = Files.createTempDirectory("longest-repeat").toString
    val rows = texts.zipWithIndex.map { case (t, i) => Row((i + 1).toLong, t) }
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def query(dir: String): Option[(Long, Long, String)] = {
    val rows = SparkEntry.queries("q_longest_repeat")(spark, dir).collect()
    assert(rows.length <= 1)
    rows.headOption.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  /** The oracle's definitions over every pair of token suffixes: L* is
    * the largest token LCP, the witness the least space-joined L*-prefix
    * of a pair with that LCP, n_occ the suffixes with that prefix
    * (overlapping occurrences count). None when L* < 1.
    */
  private def bruteForce(texts: Seq[String]): Option[(Long, Long, String)] = {
    val sufs = texts.filter(_ != null).map(_.split(" ", -1))
      .flatMap(ts => ts.indices.map(ts.drop))
    def lcp(a: Array[String], b: Array[String]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i
    }
    val pairs = for (i <- sufs.indices; j <- i + 1 until sufs.size)
      yield (lcp(sufs(i), sufs(j)), sufs(i))
    val best = if (pairs.isEmpty) 0 else pairs.map(_._1).max
    if (best < 1) None
    else {
      val span = pairs.collect { case (l, s) if l == best => s.take(best).mkString(" ") }.min
      val occ = sufs.count(s => s.length >= best && s.take(best).mkString(" ") == span)
      Some((best.toLong, occ.toLong, span))
    }
  }

  private def agree(texts: Seq[String]): Option[(Long, Long, String)] = {
    val want = bruteForce(texts)
    assert(query(fixture(texts)) == want, s"texts: ${texts.mkString(" | ")}")
    want
  }

  /** A seeded corpus over a small vocabulary: some documents copy a
    * slice of an earlier one, so long repeats, long candidate runs and
    * repeats that end inside them all occur; some texts are NULL.
    */
  private def corpus(rnd: scala.util.Random, nDocs: Int, maxLen: Int): Seq[String] = {
    val vocab = Seq("a", "b", "c", "d").take(2 + rnd.nextInt(3))
    def draw(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val docs = (0 until nDocs).foldLeft(Vector.empty[Seq[String]]) { (acc, _) =>
      val prev = acc.filter(_ != null)
      acc :+ (rnd.nextInt(12) match {
        case 0 => null
        case c if c < 5 && prev.nonEmpty =>
          val src = prev(rnd.nextInt(prev.size))
          val from = rnd.nextInt(src.size + 1)
          draw(rnd.nextInt(3)) ++ src.slice(from, from + rnd.nextInt(maxLen)) ++ draw(rnd.nextInt(3))
        case _ => draw(rnd.nextInt(maxLen))
      })
    }
    docs.map(d => if (d == null) null else d.mkString(" "))
  }

  test("matches the suffix-pair brute force on seeded random small-vocabulary corpora") {
    val rnd = new scala.util.Random(20261019L)
    var seeded, short = 0
    for (trial <- 0 until 16) {
      agree(corpus(rnd, 1 + rnd.nextInt(6), Seq(6, 12, 24, 40)(trial % 4)))
        .foreach(r => if (r._1 >= 8) seeded += 1 else short += 1)
    }
    // both branches ran: a seeded answer and a fallback answer
    assert(seeded > 0 && short > 0, s"$seeded seeded, $short fallback answers")
  }

  test("repeats longer than the 128-token cap match the brute force") {
    val rnd = new scala.util.Random(20261020L)
    val found = (0 until 6).flatMap(_ => agree(corpus(rnd, 2 + rnd.nextInt(3), 400)))
    // a periodic text repeats itself at every period, the longest one
    // period in; a capped sort alone would stop at 128
    val ab = Seq.fill(150)("a b").mkString(" ")
    assert(agree(Seq(ab, "b a c")) == Some((298L, 2L, ab.split(" ").drop(2).mkString(" "))))
    assert(found.exists(_._1 > 128), found.map(_._1).mkString(", "))
  }

  test("L* below the seed width takes the fallback") {
    assert(agree(Seq("p q r s t", "x p q r s y", "u v w")) == Some((4L, 2L, "p q r s")))
  }

  test("duplicate documents: the whole document repeats") {
    val doc = (1 to 20).map(i => s"w$i").mkString(" ")
    assert(agree(Seq(doc, "w1 w2 w3 z", doc)) == Some((20L, 2L, doc)))
  }

  test("a self-overlapping run of one token") {
    val run = Seq.fill(30)("a").mkString(" ")
    assert(agree(Seq(run)) == Some((29L, 2L, Seq.fill(29)("a").mkString(" "))))
  }

  test("a duplicated 20,000-token document, with its checkpoints released") {
    val doc = (1 to 20000).map(i => s"w$i").mkString(" ")
    leavesNothingPersisted {
      assert(query(fixture(Seq(doc, "w1 w2 z", doc))) == Some((20000L, 2L, doc)))
    }
  }

  test("a 20,000-token run of one token") {
    assert(query(fixture(Seq(Seq.fill(20000)("0").mkString(" "), "0 0"))) ==
      Some((19999L, 2L, Seq.fill(19999)("0").mkString(" "))))
  }

  test("documents shorter than the seed width") {
    assert(agree(Seq("a b c", "b c d e f", "c d e f", "g")) == Some((4L, 2L, "c d e f")))
  }

  test("a repeat that ends inside a longer candidate run") {
    // doc 1's candidate window starts form one run, 1..8: x1..x12 repeats
    // in doc 2 (starts 1..5) and x6..x12 y1 y2 y3 in doc 3 (starts 6..8),
    // so the longest repeat ends at token 12 of a suffix cut at token 15
    val x = (1 to 12).map(i => s"x$i"); val y = (1 to 10).map(i => s"y$i")
    val texts = Seq((x ++ y).mkString(" "), (x :+ "z").mkString(" "),
      (Seq("q") ++ x.drop(5) ++ y.take(3) :+ "r").mkString(" "))
    assert(agree(texts) == Some((12L, 2L, x.mkString(" "))))
  }

  test("two witnesses of equal length: the least one wins") {
    val a = (1 to 9).map(i => s"m$i").mkString(" ")
    val b = (1 to 9).map(i => s"k$i").mkString(" ")
    assert(agree(Seq(s"$a z1", s"z2 $a", s"$b z3", s"z4 $b z5 $b")) == Some((9L, 3L, b)))
  }

  test("empty table, NULL and blank text") {
    assert(agree(Seq.empty).isEmpty)
    assert(agree(Seq(null, null)).isEmpty)
    assert(agree(Seq("one", null, "two")).isEmpty)
    assert(agree(Seq("", "")) == Some((1L, 2L, "")))
    agree(Seq(null, " ", "a  b", "", "a  b c"))
  }

  private def evaluate(): Unit =
    SparkEntry.evaluate(SparkEntry.queries("q_longest_repeat")(spark, sf0001))

  /** Runs `body` and asserts it left no RDD persisted. Compared as ids:
    * the context cleaner may drop other suites' unreferenced RDDs
    * meanwhile, so a bare size could fall.
    */
  private def leavesNothingPersisted(body: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"${added.size} RDDs left persisted")
  }

  test("one evaluation leaves no persisted RDD behind") {
    leavesNothingPersisted(evaluate())
  }

  /** Warm q_longest_repeat at sf0.001 ran 8 jobs (a token checkpoint, the
    * seed pass and the caller's evaluation of the one-row answer). A
    * width bisection ran 30 and unioned one plan branch per width.
    */
  test("a warm evaluation at sf0.001 runs at most 10 jobs and unions no per-width plans") {
    evaluate()
    val counter = new JobCounter("longest-repeat-shape")
    spark.sparkContext.addSparkListener(counter)
    try {
      drainListenerBus()
      counter.plans.clear()
      spark.sparkContext.setJobGroup("longest-repeat-shape", "q_longest_repeat")
      try evaluate()
      finally spark.sparkContext.clearJobGroup()
      drainListenerBus()
      assert(counter.jobs <= 10, s"${counter.jobs} jobs")
      def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes).toSeq
      val names = counter.plans.asScala.toSeq.flatMap(nodes)
      assert(names.nonEmpty)
      assert(!names.contains("Union"), names.distinct.sorted.mkString(", "))
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
