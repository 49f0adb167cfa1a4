package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Media near-dup retrieval guarantees: the byte-pair pigeonhole must be
  * COMPLETE for hamming <= 6 (a pure bit-level property, fuzzed), the
  * grouped fixture must actually produce within-group near-dups that the
  * banded join finds, and band occupancy must stay bounded on the fixture
  * (the join-partition bound that keeps the op sub-quadratic at scale). */
class MediaDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** The 28 byte-pair band keys of a 64-bit hash — the candidate keys
    * mm_dhash_pairs joins on, recomputed independently here. */
  private def bandKeys(h: Long): Set[(Int, Int, Int, Int)] = {
    def byte(j: Int): Int = ((h >>> (j * 8)) & 0xFF).toInt
    (for {
      j1 <- 0 until 8
      j2 <- (j1 + 1) until 8
    } yield (j1, j2, byte(j1), byte(j2))).toSet
  }

  test("pigeonhole completeness: any pair within hamming 6 shares a band key") {
    val rnd = new scala.util.Random(4242)
    var i = 0
    while (i < 2000) {
      val h = rnd.nextLong()
      val nFlips = rnd.nextInt(7) // 0..6
      // flip nFlips DISTINCT bit positions
      val pos = scala.collection.mutable.Set.empty[Int]
      while (pos.size < nFlips) pos += rnd.nextInt(64)
      val h2 = pos.foldLeft(h)((acc, p) => acc ^ (1L << p))
      assert(java.lang.Long.bitCount(h ^ h2) == nFlips)
      assert(bandKeys(h).intersect(bandKeys(h2)).nonEmpty,
        s"pair at hamming $nFlips shares no byte-pair key: " +
          f"h=$h%016x h2=$h2%016x")
      i += 1
    }
    // and the bound is TIGHT: hamming 7 can evade all 28 keys (7 flips
    // in 7 distinct bytes leave only one clean byte — no clean pair)
    val h = 0L
    val h7 = (0 until 7).foldLeft(h)((acc, j) => acc ^ (1L << (j * 8)))
    assert(java.lang.Long.bitCount(h ^ h7) == 7)
    assert(bandKeys(h).intersect(bandKeys(h7)).isEmpty,
      "expected the 7-distinct-bytes adversary to evade byte-pair banding")
  }

  test("grouped fixture: every within-group pair found, hamming <= 4") {
    import spark.implicits._
    val pairs = SparkEntry.queries("mm_dhash_pairs")(spark, sf)
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty)
    val within = pairs.filter { case (a, b, _) => a / 4 == b / 4 }
    // single-sample whiteouts flip <= 2 bits each -> <= 4 apart
    within.foreach { case (a, b, ham) =>
      assert(ham <= 4, s"within-group pair ($a,$b) at hamming $ham")
    }
    // all 6 pairs of every complete group of 4 must be present — the
    // fixture's known near-dups are exactly what the banding must find
    val docs = Tables.documents(spark, sf).select($"doc_id").as[Long]
      .collect().toSet
    val withinSet = within.map { case (a, b, _) => (a, b) }.toSet
    docs.groupBy(_ / 4).filter(_._2.size == 4).foreach { case (_, g) =>
      val ids = g.toSeq.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        assert(withinSet.contains((ids(i), ids(j))),
          s"missing within-group pair (${ids(i)},${ids(j)})")
    }
  }

  test("components label every grouped image; groups collapse to one cluster") {
    import spark.implicits._
    val comp = SparkEntry.queries("mm_dhash_components")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val docs = Tables.documents(spark, sf).select($"doc_id").as[Long]
      .collect().toSet
    docs.groupBy(_ / 4).filter(_._2.size >= 2).foreach { case (_, g) =>
      val labels = g.map(comp(_))
      assert(labels.size == 1,
        s"group ${g.toSeq.sorted} split across components $labels")
    }
  }

  test("band occupancy and candidate volume stay bounded on the fixture") {
    import spark.implicits._
    // Formula-image dHashes are BIASED (luma mostly increases along x,
    // so most comparison bits are 1) — the adversarial case for
    // banding: keys run hot. Measure, don't assume: the hottest bucket
    // must still hold only a fraction of the corpus, and the distinct
    // candidate-pair volume must stay well under the all-pairs join
    // the banding exists to avoid. Real photo corpora are ~unbiased;
    // this fixture bounds the op from the unfavorable side.
    val hashed = graft.operators.MediaDedup.groupedDhashes(spark, sf)
    val nDocs = hashed.count()
    val bands = hashed.select($"media_id", explode(expr(
      """flatten(transform(sequence(0, 6), j1 ->
           transform(sequence(j1 + 1, 7), j2 ->
             struct(j1 AS j1, j2 AS j2,
               (CASE WHEN j1 < 4 THEN shiftright(dhash_lo, j1 * 8)
                     ELSE shiftright(dhash_hi, (j1 - 4) * 8) END)
                 & 255L AS b1,
               (CASE WHEN j2 < 4 THEN shiftright(dhash_lo, j2 * 8)
                     ELSE shiftright(dhash_hi, (j2 - 4) * 8) END)
                 & 255L AS b2))))""")).as("bd"))
    val occ = bands
      .groupBy($"bd").agg(count(lit(1)).as("n"))
      .agg(max($"n")).head.getLong(0)
    assert(occ >= 4, s"expected full groups to share keys, max occ $occ")
    assert(occ <= nDocs / 4,
      s"band bucket occupancy $occ of $nDocs: hot-bucket blowup")
    val l = bands.select($"media_id".as("m1"), $"bd")
    val r = bands.select($"media_id".as("m2"), $"bd")
    val candidates = l.join(r, "bd").filter($"m1" < $"m2")
      .select($"m1", $"m2").distinct().count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(candidates < allPairs / 5,
      s"banding generated $candidates of $allPairs pairs: no pruning value")
  }

  test("video overlap: every same-group cut pair found at its exact shift") {
    import spark.implicits._
    val rows = SparkEntry.queries("mm_video_overlap")(spark, sf)
      .as[(Long, Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v1, v2, _, n) => assert(v1 < v2 && n >= 1) }
    // the KNOWN structure: members of one group are cuts of one base
    // clip — member m drops the first m frames, so members (ma < mb)
    // must share >= nf - mb frames at shift exactly mb - ma. (Biased
    // formula hashes also produce chance-equal frames across groups;
    // those rows are oracle-verified but carry no structure to pin.)
    val byKey = rows.map { case (v1, v2, sh, n) => ((v1, v2, sh), n) }.toMap
    val vids = Tables.documents(spark, sf).filter($"doc_id" % 3 === 2)
      .select($"doc_id").as[Long].collect().toSet
    var checked = 0
    vids.groupBy(id => ((id - 2) / 3) / 3).foreach { case (_, g) =>
      val members = g.toSeq.sorted // id ascending = m ascending
      val gid = 2 + 9 * (((members.head - 2) / 3) / 3)
      val nf = (3 + gid % 4).toInt
      for (i <- members.indices; j <- (i + 1) until members.size) {
        val (ma, mb) = (i, j) // m = position within sorted group
        val key = (members(i), members(j), mb - ma)
        assert(byKey.contains(key), s"missing aligned overlap $key")
        assert(byKey(key) >= nf - mb,
          s"pair $key aligned ${byKey(key)} < expected ${nf - mb}")
        checked += 1
      }
    }
    assert(checked > 50, s"only $checked same-group pairs checked")
  }

  test("MJPEG video overlap: every same-group cut pair found at its " +
      "exact shift, frames having traversed the real JPEG wire format") {
    import spark.implicits._
    val rows = SparkEntry.queries("mm_video_overlap_mjpeg")(spark, sf)
      .as[(Long, Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v1, v2, _, n) => assert(v1 < v2 && n >= 1) }
    val byKey = rows.map { case (v1, v2, sh, n) => ((v1, v2, sh), n) }.toMap
    val vids = Tables.documents(spark, sf).filter($"doc_id" % 3 === 0)
      .select($"doc_id").as[Long].collect().toSet
    var checked = 0
    vids.groupBy(id => (id / 3) / 3).foreach { case (_, g) =>
      val members = g.toSeq.sorted // id ascending = m ascending
      val gid = 9 * ((members.head / 3) / 3)
      val nf = (3 + gid % 4).toInt
      for (i <- members.indices; j <- (i + 1) until members.size) {
        val (ma, mb) = (i, j)
        val key = (members(i), members(j), mb - ma)
        assert(byKey.contains(key), s"missing aligned overlap $key")
        assert(byKey(key) >= nf - mb,
          s"pair $key aligned ${byKey(key)} < expected ${nf - mb}")
        checked += 1
      }
    }
    assert(checked > 50, s"only $checked same-group pairs checked")
  }

  test("audio overlap: every same-group trim pair aligns at its exact " +
      "shift with a full-suffix landmark run") {
    import spark.implicits._
    val rows = SparkEntry.queries("mm_audio_overlap")(spark, sf)
      .as[(Long, Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    val byKey = rows.map { case (a1, a2, sh, n) => ((a1, a2, sh), n) }.toMap
    val auds = Tables.documents(spark, sf).filter($"doc_id" % 3 === 1)
      .select($"doc_id").as[Long].collect().toSet
    var checked = 0
    auds.groupBy(id => ((id - 1) / 3) / 3).foreach { case (_, g) =>
      val members = g.toSeq.sorted // id ascending = trim m ascending
      val gid = 1 + 9 * (((members.head - 1) / 3) / 3)
      val nw = (200 + gid % 57).toInt / 5 // 5-sample energy windows
      for (i <- members.indices; j <- (i + 1) until members.size) {
        val (ma, mb) = (i, j)
        // member m's contour has nw-1-m bits -> (nw-1-m)-8 word
        // positions; every landmark (anchor p, target p+d, d in 9..12)
        // of the SHORTER member mb appears in member ma's landmark set
        // at shift exactly mb - ma (the contours share the suffix), so
        // n_aligned at that shift >= mb's total landmark count
        val nWordsB = (nw - 1 - mb) - 8
        val expect = (9 to 12).map(dl => math.max(0, nWordsB - dl)).sum
        if (expect >= 1) {
          val key = (members(i), members(j), mb - ma)
          assert(byKey.contains(key), s"missing audio overlap $key")
          assert(byKey(key) >= expect,
            s"pair $key aligned ${byKey(key)} < expected $expect")
          checked += 1
        }
      }
    }
    assert(checked > 50, s"only $checked same-group pairs checked")
  }

  test("audio landmark keys are high-cardinality with bounded occupancy " +
      "(the 100 TB join-shape guarantee)") {
    import spark.implicits._
    // The round-10 6-bit contour word had 64 possible join values (13
    // observed on this fixture) — Θ(N²/64) candidates at corpus scale.
    // The 20-bit landmark-pair key must (a) actually spread (distinct
    // keys far above the old 64-value ceiling), (b) keep the hottest
    // bucket a small fraction of the landmark volume, and (c) prune
    // the candidate-pair volume by orders of magnitude vs all-pairs —
    // measured on the formula fixture, whose quadratic PCM contour is
    // BIASED (structured, repeating) and therefore bounds the op from
    // the unfavorable side; real audio spreads harder.
    val lm = graft.operators.MediaDedup.audioLandmarks(spark, sf)
    val tot = lm.count()
    val occ = lm.groupBy($"key").agg(count(lit(1)).as("n"))
    val distinctKeys = occ.count()
    val hottest = occ.agg(max($"n")).head.getLong(0)
    assert(distinctKeys >= 500,
      s"landmark keys collapsed to $distinctKeys distinct values")
    assert(hottest <= tot / 50,
      s"hottest landmark key holds $hottest of $tot landmarks")
    val candidates = occ
      .select(($"n" * ($"n" - 1) / 2).cast("long").as("c"))
      .agg(sum($"c")).head.getLong(0)
    val allPairs = tot * (tot - 1) / 2
    assert(candidates <= allPairs / 100,
      s"landmark banding generated $candidates of $allPairs pairs")
  }

  test("tolerant frame matching: REAL JPEG re-encode drifts frame hashes " +
      "but the banded matcher still pairs them") {
    import graft.operators.{JpegCodec, Multimodal}
    // The round-10 op equi-joined on the exact 64-bit frame hash, so a
    // re-encoded copy of a clip (the common real-world case) never
    // paired. Round-trip formula frames through the real JPEG quality
    // path: the hash must drift (else this test proves nothing) yet
    // stay within the byte-pair pigeonhole's hamming-6 reach.
    var drifted = 0
    var total = 0
    (0 until 100).foreach { i =>
      val id = i.toLong * 3 + 2
      val img = Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(id))
      val (h1, l1) = graft.operators.Multimodal.dhashOf(img)
      val re = JpegCodec.decode(JpegCodec.encodePixels(img, 85))
      val (h2, l2) = graft.operators.Multimodal.dhashOf(re)
      val ham = java.lang.Long.bitCount(h1 ^ h2) +
        java.lang.Long.bitCount(l1 ^ l2)
      assert(ham <= 6,
        s"q85 re-encode of image $id drifted hamming $ham > 6")
      val k1 = bandKeys((h1 << 32) | (l1 & 0xFFFFFFFFL))
      val k2 = bandKeys((h2 << 32) | (l2 & 0xFFFFFFFFL))
      assert(k1.intersect(k2).nonEmpty,
        s"banded matcher missed re-encoded image $id at hamming $ham")
      if (ham > 0) drifted += 1
      total += 1
    }
    // the tolerant path must be doing real work: most re-encodes drift
    assert(drifted > total / 2,
      s"only $drifted/$total re-encodes drifted — fixture too easy")
  }

  test("video overlap fixture members are near-identical, NOT identical " +
      "(the tolerant matcher does real work)") {
    import spark.implicits._
    // aligned frames of different members carry different whiteouts ->
    // nonzero hamming for most aligned pairs; an exact equi-join would
    // produce NO within-group rows at all
    val fh = graft.operators.MediaDedup.videoFrameHashes(spark, sf)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(t => (t._1, t._2)).map { case (k, v) => k -> (v.head._3, v.head._4) }
    val vids = Tables.documents(spark, sf).filter($"doc_id" % 3 === 2)
      .select($"doc_id").as[Long].collect().toSet
    var nonzero = 0
    var aligned = 0
    vids.groupBy(id => ((id - 2) / 3) / 3).foreach { case (_, g) =>
      val members = g.toSeq.sorted
      val gid = 2 + 9 * (((members.head - 2) / 3) / 3)
      val nf = (3 + gid % 4).toInt
      for (i <- members.indices; j <- (i + 1) until members.size;
           f <- 0 until nf - j) {
        // member j's frame f aligns with member i's frame f + (j - i)
        (fh.get((members(i), f + (j - i))), fh.get((members(j), f))) match {
          case (Some((h1, l1)), Some((h2, l2))) =>
            val ham = java.lang.Long.bitCount(h1 ^ h2) +
              java.lang.Long.bitCount(l1 ^ l2)
            assert(ham <= 4, s"aligned frames at hamming $ham > 4")
            if (ham > 0) nonzero += 1
            aligned += 1
          case other => fail(s"missing aligned frame pair: $other")
        }
      }
    }
    assert(aligned > 100, s"only $aligned aligned pairs")
    assert(nonzero > aligned / 2,
      s"only $nonzero/$aligned aligned pairs drifted — whiteout inert")
  }

  test("memoized hash relations: pair/components/second-run consumers " +
      "build each relation exactly once") {
    Memo.clear("media")
    SparkEntry.queries("mm_dhash_pairs")(spark, sf).count()
    SparkEntry.queries("mm_dhash_components")(spark, sf).count()
    SparkEntry.queries("mm_dhash_pairs")(spark, sf).count()
    assert(Memo.builds("img_dhash", sf) == 1,
      "image hash relation rebuilt across consumers")
    SparkEntry.queries("mm_video_overlap")(spark, sf).count()
    SparkEntry.queries("mm_video_overlap")(spark, sf).count()
    assert(Memo.builds("video_fh", sf) == 1,
      "video frame-hash relation rebuilt across runs")
    SparkEntry.queries("mm_audio_overlap")(spark, sf).count()
    SparkEntry.queries("mm_audio_overlap")(spark, sf).count()
    assert(Memo.builds("audio_lm", sf) == 1,
      "audio landmark relation rebuilt across runs")
    Memo.clear("media")
    assert(Memo.builds("img_dhash", sf) == 0)
  }
}
