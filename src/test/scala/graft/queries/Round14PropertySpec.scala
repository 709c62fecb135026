package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 statistic pins (the standing rule: every new statistic gets
  * an independent closed-form or cross-paradigm check).
  */
class Round14PropertySpec extends SparkSpec {

  test("q353 factor law: the Scala expression equals the SQL formula") {
    // the engine's fw() and the oracle's LEAST/// text must stay one
    // law; evaluate the engine expression through Spark SQL on a grid
    // spanning under-cap, at-cap and div-floor boundary cases
    val cases = Seq(
      // (nab, ca, cb, cap)
      (1000000L, 1L, 1L, 2000000000L),
      (163000000L, 540L, 540L, 2000000000L),
      (163000000L, 12L, 14L, 2000000000L),
      (16400000000L, 135L, 135L, 2000000000L),
      (16400000000L, 1L, 1L, 2000000000000L),
      (163000000L, 2L, 1L, 2000000000000L))
    cases.foreach { case (nab, ca, cb, cap) =>
      val got = spark.sql(
        s"SELECT LEAST(CAST($cap AS BIGINT), CAST(CAST(900000 AS" +
          s" DECIMAL(38,0)) * CAST($nab AS DECIMAL(38,0))" +
          s" div (CAST($ca AS DECIMAL(38,0)) * $cb) AS BIGINT)) AS f")
        .head().getLong(0)
      val want = math.min(cap,
        (BigInt(900000) * BigInt(nab) / (BigInt(ca) * BigInt(cb)))
          .toLong)
      assert(got == want, s"nab=$nab ca=$ca cb=$cb cap=$cap: $got != $want")
    }
  }

  test("q353 decision shape: matches require ph agreement plus tok-or-band") {
    // the pinned threshold's measured property, re-derived from the
    // SHARED scoring front: every accepted pair agrees on the
    // enrichment identifier AND at least one of tok/band, and every
    // all-5-agree pair is accepted. This is the q353 docstring's band
    // analysis asserted from data rather than prose — AT THE GATE'S
    // DENSITY REGIME (sf0.01+): the prior-odds scaling intentionally
    // admits ph-less all-4-agree pairs at sf0.001's density (first run
    // of this spec measured exactly that), which is the density-
    // adaptive behavior the gate exists to certify, so the shape pin
    // runs where the sweeps run.
    val wp = Dedup.weightedParts(spark, "/root/testdata/sf0.01")
    val sc = wp.scored.select(col("g_seg"), col("g_band"), col("g_tok"),
      col("g_ph"), col("is_match")).collect()
    assert(sc.nonEmpty)
    sc.foreach { r =>
      val (gs, gb, gt, gp, m) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4))
      if (m) assert(gp == 1L && (gt == 1L || gb == 1L),
        s"accepted pair without ph+(tok|band) evidence: $gs $gb $gt $gp")
      if (gs == 1L && gb == 1L && gt == 1L && gp == 1L)
        assert(m, "an all-5-agree pair was rejected")
    }
  }

  test("ER u statistics equal a plain-Scala recount of the registries") {
    // lp.st (q302/q325) and stRow (q353) both come from the Spark census
    // and u-statistic helpers; here every value is recounted in plain
    // Scala from the collected registries, with ph rebuilt from its md5
    // definition rather than read back from Spark
    val wp = Dedup.weightedParts(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame, key: String) =
      df.select(col(key), col("nat"), col("seg"), col("band"), col("tok"))
        .collect().map(r => (r.getAs[Number](0).longValue, r.getLong(1),
          r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    val a = rows(wp.lp.a, "a_key")
    val b = rows(wp.lp.b, "b_key")
    def md5Mod(salt: String, k: Long, m: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + k).getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % m
    }
    val phA = a.map(r => md5Mod("q353ID#", r._1, 10000L))
    val phB = b.map { r =>
      val ph = md5Mod("q353ID#", r._1, 10000L)
      if (md5Mod("q353P#", r._1, 1000000L) < 100000L) (ph + 1) % 10000L
      else ph
    }
    val (nA, nB) = (BigInt(a.size), BigInt(b.size))
    val nab = nA * nB
    def counts[T](xs: Seq[T]): Map[T, Int] =
      xs.groupBy(identity).map(kv => kv._1 -> kv._2.size)
    def s[T](va: Seq[T], vb: Seq[T]): BigInt = {
      val cb = counts(vb)
      counts(va).toSeq.map { case (v, n) =>
        BigInt(n) * BigInt(cb.getOrElse(v, 0)) }.sum
    }
    val sF = Map(
      "tok" -> s(a.map(_._5), b.map(_._5)),
      "seg" -> s(a.map(_._3), b.map(_._3)),
      "band" -> s(a.map(_._4), b.map(_._4)),
      "ph" -> s(phA, phB))
    def fA(f: String) = (BigInt(900000) * nab / sF(f)).toLong
    def fD(f: String) = (BigInt(100000) * nab / (nab - sF(f))).toLong

    val st = wp.lp.st.head()
    assert(st.getAs[Long]("n_a") == nA.toLong)
    assert(st.getAs[Long]("n_b") == nB.toLong)
    Seq("tok", "seg", "band").foreach { f =>
      assert(BigInt(st.getAs[java.math.BigDecimal](s"s_$f")
        .toBigIntegerExact) == sF(f), s"s_$f")
      assert(st.getAs[Long](s"f_${f}_a") == fA(f), s"f_${f}_a")
      assert(st.getAs[Long](s"f_${f}_d") == fD(f), s"f_${f}_d")
    }

    val purged = {
      val blkA = counts(a.map(_._2).zip(phA))
      val blkB = counts(b.map(_._2).zip(phB))
      blkA.count { case (k, ca) =>
        blkB.get(k).exists(cb => math.max(ca, cb) > Dedup.BlockCap) }
    }
    val row = wp.stRow.head()
    assert(BigInt(row.getAs[java.math.BigDecimal]("nab")
      .toBigIntegerExact) == nab)
    Seq("tok", "seg", "band", "ph").foreach(f =>
      assert(row.getAs[Long](s"f_${f}_d") == fD(f), s"stRow f_${f}_d"))
    assert(BigInt(row.getAs[java.math.BigDecimal]("thr").toBigIntegerExact) ==
      BigInt(Dedup.WeightedMatchT) * nA.max(nB))
    assert(row.getAs[Long]("n_purged_ph_blocks") == purged.toLong)
  }

  test("q349 early-exit law: the first 0-change round is the fixed point") {
    // monotone min-label propagation on random graphs: once a round
    // changes nothing, further rounds change nothing, and the labels
    // equal the connected components — the invariant that lets the
    // engine exit early while the oracle unrolls all 6 rounds
    val rnd = new scala.util.Random(14)
    (1 to 25).foreach { trial =>
      val n = 2 + rnd.nextInt(12)
      val edges = (1 to rnd.nextInt(14)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val sym = edges ++ edges.map(e => (e._2, e._1))
      var lbl = (0L until n.toLong).map(i => i -> i).toMap
      var frozenAt = -1
      (1 to 6).foreach { round =>
        val nbrMin = sym.groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => lbl(e._1)).min
        }
        val next = lbl.map { case (v, l) =>
          v -> math.min(l, nbrMin.getOrElse(v, l))
        }
        val changed = next.count { case (v, l) => l != lbl(v) }
        if (changed == 0 && frozenAt < 0) frozenAt = round
        if (frozenAt > 0)
          assert(changed == 0,
            s"trial $trial: labels changed after a 0-change round")
        lbl = next
      }
      // components by union-find for the ground truth
      val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // 6 rounds cover diameter 6; these graphs are tiny so labels must
      // equal the component minima whenever the loop froze
      if (frozenAt > 0)
        (0 until n).foreach { v =>
          val comp = (0 until n).filter(u => find(u) == find(v))
          assert(lbl(v.toLong) == comp.min,
            s"trial $trial: frozen labels are not the components")
        }
    }
  }

  test("q357 quantization law: reconstruction error bounded by one bin") {
    import graft.functions.VectorFunctions.vec64
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), vec64(col("embedding")).as("e"))
    val mm = emb.select(posexplode(col("e")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(d, lo)))," +
        " x -> x.lo)").as("lo_arr"),
        expr("transform(array_sort(collect_list(struct(d, hi)))," +
          " x -> x.hi)").as("hi_arr"))
    val bad = emb.crossJoin(broadcast(mm))
      .select(explode(expr(
        "transform(sequence(1, size(e)), i -> CASE" +
          " WHEN element_at(hi_arr, i) = element_at(lo_arr, i) THEN 0.0" +
          " ELSE abs(element_at(e, i) - (element_at(lo_arr, i)" +
          " + CAST(LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE)," +
          " FLOOR((element_at(e, i) - element_at(lo_arr, i)) * 255" +
          " / (element_at(hi_arr, i) - element_at(lo_arr, i)))))" +
          " AS BIGINT) * (element_at(hi_arr, i) - element_at(lo_arr, i))" +
          " / 255)) * 255 / (element_at(hi_arr, i) - element_at(lo_arr, i))" +
          " END)")).as("err_bins"))
      .filter(col("err_bins") > 1.0000001) // one bin width, ulp slack
      .count()
    assert(bad == 0L, s"$bad dims reconstruct more than one bin off")
  }
}
