package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operators checked against independently written direct
  * implementations (the WinnowSpec pattern):
  *
  *   - text_repeat_spans: the distributed L-gram sweep must produce the
  *     same maximal cross-document duplicated spans as a naive
  *     substring-set scan (which uses the RAW grams, so this also
  *     proves the md5-digest shuffle key introduces no collisions on
  *     this corpus).
  *   - pipeline_lpa_communities: the join/agg formulation must equal a
  *     plain in-memory synchronous LPA with the same (max count, min
  *     label) tie-break, round for round.
  */
class Round8OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------------
  // text_repeat_spans
  // ------------------------------------------------------------------

  private val L = 25

  /** Direct algorithm on raw strings: every L-char window, a window is
    * duplicated iff its text occurs in >= 2 distinct docs, duplicated
    * starts merge into maximal spans whenever their windows overlap
    * (start gap < L) — so the output spans are the disjoint union of
    * the duplicated windows' character coverage. */
  private def directSpans(
      docs: Map[Long, String]): Set[(Long, Long, Long, Long)] = {
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, text) <- docs; p <- 0 to text.length - L) {
      val g = text.substring(p, p + L)
      gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
    }
    docs.flatMap { case (id, text) =>
      val dup = (0 to text.length - L)
        .filter(p => (gramDocs(text.substring(p, p + L)) - id).nonEmpty)
      // merge overlapping-window positions into islands (gap < L)
      dup.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p - e < L => (s, p) :: rest
        case (acc, p)                         => (p, p) :: acc
      }.map { case (s, e) =>
        // 1-based, end covers the last gram's tail
        (id, (s + 1).toLong, (e + L).toLong, (e + L - s).toLong)
      }
    }.toSet
  }

  test("text_repeat_spans equals the direct substring-set scan") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.nonEmpty)
    val expect = directSpans(docs)
    val got = SparkEntry.queries("text_repeat_spans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
    // sanity on the span contract itself
    got.foreach { case (_, s, e, len) =>
      assert(len == e - s + 1 && len >= L)
    }
  }

  test("text_repeat_spans covers a planted cross-doc duplicate") {
    // the corpus must actually exercise the operator at this sf
    val got = SparkEntry.queries("text_repeat_spans")(spark, sf).collect()
    assert(got.nonEmpty)
  }

  test("the span memo drops its corpus-sized gram relation once the " +
      "span relation materializes (round-11 advisory)") {
    val ta = graft.operators.TextAnalysis
    Memo.clear("spans")
    // first action materializes the cached span relation; the NEXT
    // access must notice and unpersist the gram scaffolding — pinning
    // it for process lifetime would re-introduce the round-9 leak in
    // per-dataset form
    SparkEntry.queries("text_repeat_spans")(spark, sf).count()
    SparkEntry.queries("text_strip_repeat_spans")(spark, sf).count()
    assert(!ta.gramRelationPinned(sf),
      "gram relation still pinned after the span relation materialized")
    Memo.clear("spans")
  }

  test("text_strip_repeat_spans removes exactly the detected spans " +
      "(round 9)") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spans = directSpans(docs)
    val got = SparkEntry.queries("text_strip_repeat_spans")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val sp = spans.filter(_._1 == id).toSeq.sortBy(_._2)
      val keep = new StringBuilder
      var pos = 1L
      sp.foreach { case (_, s, e, _) =>
        keep ++= text.substring(pos.toInt - 1, s.toInt - 1)
        pos = e + 1
      }
      keep ++= text.substring(pos.toInt - 1)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(keep.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      val (n, removed, keptLen, gotMd5) = got(id)
      assert(n == sp.size.toLong, s"doc $id span count")
      assert(removed == sp.map(_._4).sum, s"doc $id removed chars")
      assert(keptLen == keep.length.toLong, s"doc $id kept chars")
      assert(gotMd5 == md5, s"doc $id kept content")
      // disjointness invariant the strip relies on
      sp.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1)
        case _ => ()
      }
    }
  }

  // ------------------------------------------------------------------
  // pipeline_lpa_communities
  // ------------------------------------------------------------------

  private val LpaIters = 5
  private val LpaMinW  = 2

  /** Plain synchronous LPA over the same sparsified co-purchase graph:
    * label_k+1(v) = label most frequent among in-neighbors, ties to the
    * smallest label. */
  private def directLpa(
      li: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val byOrder = li.distinct.groupBy(_._1).values
    val w = scala.collection.mutable.Map.empty[(Long, Long), Int]
    for (parts <- byOrder; a <- parts.map(_._2); b <- parts.map(_._2)
         if a != b)
      w((a, b)) = w.getOrElse((a, b), 0) + 1
    // NB: .iterator first — collect-to-tuples on a Map would rebuild a
    // Map and silently dedup edges by src
    val edges = w.iterator.collect {
      case (k, c) if c >= LpaMinW => k
    }.toSeq
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = edges.map(_._1).distinct
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to LpaIters) {
      lab = nodes.map { v =>
        val counts = in(v).map(lab).groupBy(identity)
          .map { case (l, occ) => (l, occ.size) }
        val best = counts.toSeq
          .maxBy { case (l, c) => (c.toLong, -l) }._1
        v -> best
      }.toMap
    }
    lab.values.groupBy(identity)
      .map { case (l, vs) => (l, vs.size.toLong) }.toSeq
      .sortBy { case (l, c) => (-c, l) }
      .take(25)
  }

  test("pipeline_lpa_communities equals plain synchronous LPA") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = directLpa(li)
    val got = SparkEntry.queries("pipeline_lpa_communities")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect) // order matters: (csize desc, community asc)
    // sf0.001's 200-node graph legitimately collapses to one blob; the
    // oracle gate at sf0.01 sees 25 communities. Non-emptiness here,
    // structure below on a constructed graph.
    assert(got.nonEmpty)
  }

  // ------------------------------------------------------------------
  // dedup_ppjoin
  // ------------------------------------------------------------------

  test("dedup_ppjoin equals brute-force exact Jaccard (completeness)") {
    // the direct twin runs NAIVE all-pairs — equality proves the prefix
    // filter in the query dropped no qualifying pair
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets = docs.flatMap { case (id, text) =>
      val ws = text.toLowerCase.split("\\s+", -1)
      if (ws.length < 3) None
      else Some(id -> (0 to ws.length - 3)
        .map(i => ws.slice(i, i + 3).mkString(" ")).toSet)
    }.toMap
    val ids = sets.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      inter = (a & b).size
      union = a.size + b.size - inter
      if inter * 5 >= union * 3
    } yield (ids(i), ids(j), inter.toDouble / union)).toSet
    val got = SparkEntry.queries("dedup_ppjoin")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    assert(got.nonEmpty) // the corpus must exercise the op
  }

  // ------------------------------------------------------------------
  // pipeline_curriculum
  // ------------------------------------------------------------------

  test("pipeline_curriculum equals a direct phase/shuffle computation") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val scores = docs.map { case (id, t) =>
      id -> t.split("\\s+", -1).length.toLong
    }
    val n = scores.length
    val sorted = scores.map(_._2).sorted
    // type-1 quantile: smallest v with 4*cum >= k*n
    def thresh(k: Int): Long =
      sorted(sorted.indices.find(i => (i + 1) * 4 >= k.toLong * n).get)
    val (t1, t2, t3) = (thresh(1), thresh(2), thresh(3))
    def key(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString.substring(0, 8), 16)
    val expect = scores.map { case (id, tok) =>
      val phase = 1 + (if (tok > t1) 1 else 0) +
        (if (tok > t2) 1 else 0) + (if (tok > t3) 1 else 0)
      (id, tok, phase, key(id))
    }.sortBy { case (id, _, p, k) => (p, k, id) }.toSeq
    val got = SparkEntry.queries("pipeline_curriculum")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq
    assert(got == expect)
    // phases must be count-balanced within histogram-tie slack
    val sizes = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
  }

  // ------------------------------------------------------------------
  // q51_hll_registers
  // ------------------------------------------------------------------

  test("q51_hll_registers equals a direct register-level HLL") {
    val ud = Tables.events(spark, sf)
      .selectExpr("user_id", "cast(to_date(ts) as string) AS day")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ud.nonEmpty)
    // direct sketch: 32-bit md5-prefix hash, 256 registers, rho over
    // the remaining 24 bits — merging per-day maxima is the same as
    // one global max, so the direct impl skips the daily stage the
    // query exercises (if merge were NOT associative they'd differ)
    val regs = new Array[Int](256)
    ud.distinct.foreach { case (u, day) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u@$day".getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString.substring(0, 8)
      val hv = java.lang.Long.parseLong(hex, 16)
      val idx = (hv % 256).toInt
      val w = hv / 256
      val rho = if (w == 0) 25 else 25 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(idx)) regs(idx) = rho
    }
    val nz = regs.count(_ > 0)
    val den = regs.filter(_ > 0).map(m => 1L << (25 - m)).sum +
      (256L - nz) * 33554432L
    val est = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 33554432.0 /
      den.toDouble
    val got = SparkEntry.queries("q51_hll_registers")(spark, sf).collect()
    assert(got.length == 1)
    assert(got(0).getDouble(0) == est) // bit-identical, not approx
    assert(got(0).getLong(1) == nz.toLong)
    assert(got(0).getLong(2) == ud.distinct.length.toLong)
  }

  test("q52_hll_rollup equals direct per-group + merged register HLL") {
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val pairs = docs.flatMap { case (src, text) =>
      val ws = text.toLowerCase.split("\\s+", -1)
      if (ws.length < 3) Nil
      else (0 to ws.length - 3)
        .map(i => src -> ws.slice(i, i + 3).mkString(" "))
    }.distinct
    def sketch(shingles: Seq[String]): (Double, Long) = {
      val regs = new Array[Int](256)
      shingles.foreach { sh =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(sh.getBytes("UTF-8"))
          .map(b => f"${b & 0xFF}%02x").mkString.substring(0, 8)
        val hv = java.lang.Long.parseLong(hex, 16)
        val idx = (hv % 256).toInt
        val w = hv / 256
        val rho = if (w == 0) 25
          else 25 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(idx)) regs(idx) = rho
      }
      val nz = regs.count(_ > 0)
      val den = regs.filter(_ > 0).map(m => 1L << (25 - m)).sum +
        (256L - nz) * 33554432L
      (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 33554432.0 /
        den.toDouble, nz.toLong)
    }
    val groups = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap +
      ("ALL" -> pairs.map(_._2).distinct.toSeq)
    val expect = groups.map { case (g, shs) =>
      val (est, nz) = sketch(shs.distinct)
      (g, est, nz, shs.distinct.length.toLong)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q52_hll_rollup")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect) // bit-identical estimates, exact counts
  }

  test("LPA separates two cliques joined by a single bridge") {
    import spark.implicits._
    // cliques {1..5} and {11..15}, bridge 5<->11; symmetric edge list
    def clique(vs: Seq[Long]) =
      for (a <- vs; b <- vs if a != b) yield (a, b)
    val e = (clique(1L to 5L) ++ clique(11L to 15L) ++
        Seq((5L, 11L), (11L, 5L)))
      .toDF("src", "dst")
    val lab = operators.Graph.labelPropagate(e, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).map(lab).toSet.size == 1)
    assert((11L to 15L).map(lab).toSet.size == 1)
    assert(lab(1L) != lab(12L)) // the bridge must not merge them
  }
}
