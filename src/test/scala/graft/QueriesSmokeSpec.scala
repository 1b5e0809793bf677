package graft

/** Every registered query must execute and return rows on the smallest
  * scale factor — catches runtime breakage (schema drift, bad column
  * refs, convergence failures) in `sbt test` instead of at the driver's
  * verify stage. Oracle equivalence is checked separately by the DuckDB
  * parity harness. */
class QueriesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("registry integrity: unique names, well-formed, oracles resolvable") {
    val names = Queries.all.map(_._1)
    assert(names.distinct.size == names.size,
      "duplicate query names would silently shadow each other in the Map")
    names.foreach(n => assert(n.matches("q\\d+[a-z0-9_]*"),
      s"query name '$n' breaks the qNN_slug convention"))
    // every oracle key must be a registered query (the driver joins on it)
    val known = names.toSet
    Queries.oracleSql.keys.foreach(k => assert(known(k)))
  }

  Queries.all.foreach { case (name, q) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = q.fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      // suite-wide plan guard: a CartesianProduct is never acceptable —
      // every deliberate all-pairs shape in this library is a BROADCAST
      // nested-loop over a provably bounded side (centroids, 1-row
      // digests), which plans as BroadcastNestedLoopJoin, not this.
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      // near-dup style queries can legitimately be empty at tiny scale;
      // everything else must produce output
      val emptyOk = Set("q17_near_dup_lsh", "q18_simhash_pairs", "q27_embed_neardup",
        "q39_neardup_clusters", "q41_winnowing", "q42_embed_clusters",
        "q43_dedup_survivors", "q51_cross_source_overlap", "q183_split_leakage")
      val n = df.count()
      assert(n > 0 || emptyOk(name), s"$name returned 0 rows")
    }
  }

  test("plan guard: no unordered global Window anywhere; ordered ones only above bounded subtrees") {
    // generalizes the CartesianProduct ban (VERDICT r8 #7): a Window
    // with no partition spec plans a SINGLE-partition WindowExec — a
    // scale killer on data-plane rows. Two-tier discipline:
    //  - UNORDERED global windows (sum(x) OVER ()) are banned OUTRIGHT:
    //    they compute one constant for every row, which is always a
    //    crossJoin(broadcast(agg)) digest in disguise — this is the
    //    rule that catches q193/q170/q189 if their digests revert;
    //  - ORDERED global windows (row_number/cumsum over a total order)
    //    genuinely need a single total frame, so they are legitimate
    //    ONLY above a subtree bounded by construction: every path to a
    //    leaf passes an Aggregate or a Limit (digests, top-k frames),
    //    or ends in driver-local rows (LocalRelation / OneRowRelation).
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation => true
      case _: LeafNode => false
      case other if other.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val offenders = Queries.all.flatMap { case (name, q) =>
      q.fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty
            && (w.orderSpec.isEmpty || !bounded(w.child)) =>
          val why = if (w.orderSpec.isEmpty) "unordered global window (use a broadcast digest)"
            else "ordered global window over an UNBOUNDED subtree"
          s"$name: $why — ${w.windowExpressions.map(_.sql).mkString(", ")}"
      }
    }
    assert(offenders.isEmpty,
      s"global-Window discipline violated in:\n${offenders.mkString("\n")}")
  }

  test("q202 plan: Hamming ranks through the bounded top-k; exact cosine only above it (VERDICT r9 #1)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = Queries.all.toMap.apply("q202_binary_sign_ann")
      .fn(spark, sfDir).queryExecution.optimizedPlan
    // ranking must never ride a row_number window (10 partitions each
    // holding the full candidate set — the q63/q120 anti-pattern)
    assert(plan.collect { case w: Window => w }.isEmpty,
      s"q202 plans a Window:\n$plan")
    // the bounded top-k aggregate is the ranking stage, and the exact
    // integer-cosine rescore (the dot product the 1-bit quantization
    // exists to avoid) must not be computed anywhere BELOW it
    val topkAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists {
        case t: graft.plans.TopKPairs => t.prettyName == "top_k_pairs_long"
        case _ => false
      }) => a
    }
    assert(topkAggs.nonEmpty, s"q202 must rank through top_k_pairs_long:\n$plan")
    topkAggs.foreach { a =>
      val dotBelow = a.child.collect { case p => p }
        .exists(_.expressions.exists(_.exists {
          case _: graft.plans.ArrayDotLong => true
          case _ => false
        }))
      assert(!dotBelow,
        s"q202 computes the exact rescore below the top-k filter:\n$plan")
    }
  }

  test("q48 funnel counts are monotonically non-increasing per stage") {
    Queries.queries("q48_quality_funnel")(spark, sfDir).collect().foreach { r =>
      val (n, l, rp, s) = (r.getAs[Long]("n_docs"), r.getAs[Long]("after_len"),
        r.getAs[Long]("after_rep"), r.getAs[Long]("after_stop"))
      assert(n >= l && l >= rp && rp >= s && s >= 0,
        s"funnel not monotone for ${r.getAs[String]("source")}: $n $l $rp $s")
    }
  }

  test("q47 removal accounting balances: kept + dropped = train") {
    Queries.queries("q47_decontaminate_corpus")(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")
        == r.getAs[Long]("n_train"))
    }
  }

  test("q50 passage accounting: dup passages bounded by total passages") {
    Queries.queries("q50_passage_dedup")(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("n_dup_passages") >= 0
        && r.getAs[Long]("n_dup_passages") <= r.getAs[Long]("n_passages"))
    }
  }

  test("q51 overlap matrix: ordered pairs with positive shared counts") {
    Queries.queries("q51_cross_source_overlap")(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_shared") >= 1)
    }
  }

  test("q52 outlier screen: flags bounded, norm spread ordered") {
    val rows = Queries.queries("q52_embedding_outliers")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_high") + r.getAs[Long]("n_low")
        <= r.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("min_n2") <= r.getAs[Long]("max_n2"))
    }
  }

  test("q53 recall bounded in [0, 1] with exactly 10 exact neighbors") {
    val rows = Queries.queries("q53_ann_recall")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 10L)
      assert(r.getAs[Long]("hits_bucket") >= 0
        && r.getAs[Long]("hits_bucket") <= 10)
      assert(r.getAs[Long]("hits_multi") >= 0
        && r.getAs[Long]("hits_multi") <= 10)
    }
  }

  test("q132 histogram median/MAD equals the brute-force definition") {
    val rows = Queries.queries("q132_robust_outliers")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue()))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted }
    def med2(sorted: Seq[Long]): Long = {
      val n = sorted.length
      sorted((n + 1) / 2 - 1) + sorted(n / 2)
    }
    rows.foreach { r =>
      val xs = docs(r.getAs[String]("source"))
      val m2 = med2(xs)
      assert(r.getAs[Long]("med_x2") == m2)
      val dev = xs.map(x => math.abs(2 * x - m2)).sorted
      val m4 = med2(dev)
      assert(r.getAs[Long]("mad_x4") == m4)
      assert(r.getAs[Long]("n_outliers") == dev.count(d => 2 * d > 3 * m4))
      assert(r.getAs[Long]("n_docs") == xs.length.toLong)
    }
  }

  test("q133 rules match the brute-force basket definition") {
    val rows = Queries.queries("q133_assoc_rules")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
      .distinct.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }.toSeq
    val nB = baskets.size.toLong
    val nItem = baskets.flatten.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    rows.foreach { r =>
      val (a, c, m) = (r.getAs[Long]("ante"), r.getAs[Long]("cons"),
        r.getAs[Long]("m"))
      val both = baskets.count(b => b(a) && b(c)).toLong
      assert(m == both && m >= 3)
      assert(r.getAs[Long]("n_ante") == nItem(a))
      assert(r.getAs[Long]("n_cons") == nItem(c))
      val conf = m * 1000000L / nItem(a)
      assert(r.getAs[Long]("conf_ppm") == conf)
      assert(r.getAs[Long]("lift_ppm") == conf * nB / nItem(c))
    }
  }

  test("q134 pair counts match one brute-force BPE training round") {
    val rows = Queries.queries("q134_bpe_next_merges")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val wc = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val occ = collection.mutable.Map.empty[(String, String), Long]
    val sup = collection.mutable.Map.empty[(String, String), Set[String]]
    wc.foreach { case (w, c) =>
      val s = functions.Bpe.segment(w)
      s.indices.dropRight(1).foreach { i =>
        val k = (s(i), s(i + 1))
        occ(k) = occ.getOrElse(k, 0L) + c
        sup(k) = sup.getOrElse(k, Set.empty) + w
      }
    }
    rows.foreach { r =>
      val k = (r.getAs[String]("lhs"), r.getAs[String]("rhs"))
      assert(r.getAs[Long]("n_occ") == occ(k), s"occ for $k")
      assert(r.getAs[Long]("n_words") == sup(k).size.toLong, s"words for $k")
      // no candidate may already be a learned merge (fixpoint property)
      assert(!functions.Bpe.Merges.contains(k), s"$k already merged")
    }
    assert(rows.map(_.getAs[Long]("n_occ")).toSeq ==
      rows.map(_.getAs[Long]("n_occ")).sortBy(-_).toSeq)
  }

  test("q135 split assignment is a pure stable hash threshold") {
    val rows = Queries.queries("q135_dataset_split")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("frac_ppm")).sum <= 1000000L)
      assert(rs.map(_.getAs[String]("split")).toSet
        .subsetOf(Set("train", "val", "test")))
    }
    // stability: running twice yields identical assignment counts
    val again = Queries.queries("q135_dataset_split")(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q136 phrase hits match brute-force sliding windows") {
    val rows = Queries.queries("q136_phrase_search")(spark, sfDir).collect()
    assert(rows.length == 4)
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getAs[Number](0).longValue() ->
        r.getString(1).split(" ", -1).toSeq)
    rows.foreach { r =>
      val ws = r.getAs[String]("phrase").split(" ").toSeq
      var hits = 0L
      var docsWith = 0L
      texts.foreach { case (_, toks) =>
        val n = toks.sliding(ws.length).count(_ == ws)
        hits += n
        if (n > 0) docsWith += 1
      }
      assert(r.getAs[Long]("n_hits") == hits, s"hits for '${ws.mkString(" ")}'")
      assert(r.getAs[Long]("n_docs") == docsWith)
      assert(r.getAs[Long]("k") == ws.length.toLong)
    }
  }

  test("q45+q47 leave no pinned storage in a plain session") {
    // the r4 verdict's persist-leak regression guard: the decontamination
    // core must not hand a third-party caller pinned cache entries
    spark.catalog.clearCache()
    Queries.queries("q45_decontamination")(spark, sfDir).collect()
    Queries.queries("q47_decontaminate_corpus")(spark, sfDir).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "decontamination queries left persisted entries behind")
  }

  test("q54 recall bounded and non-decreasing in the probe budget") {
    val rows = Queries.queries("q54_ivf_recall")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 10L)
      val h1 = r.getAs[Long]("hits_probe")
      val h4 = r.getAs[Long]("hits_probe4")
      assert(h1 >= 0 && h1 <= 10 && h4 >= 0 && h4 <= 10)
      // widening the probe set can only add candidates
      assert(h4 >= h1, s"recall shrank as nprobe grew: $h1 -> $h4")
    }
  }

  test("q55 decimal money: string cents exactly re-parse and match dollars") {
    val rows = Queries.queries("q55_decimal_money")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cents = BigInt(r.getAs[String]("total_cents"))
      assert(cents > 0)
      assert(math.abs(cents.toDouble / 100.0 - r.getAs[Double]("total_price")) < 1e-6)
    }
  }

  test("q56 packing: efficiency in (0,1], splits and slots bounded") {
    val rows = Queries.queries("q56_sequence_packing")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val eff = r.getAs[Double]("pack_efficiency")
      assert(eff > 0 && eff <= 1.0, s"pack_efficiency out of range: $eff")
      assert(r.getAs[Long]("n_split_docs") <= r.getAs[Long]("n_docs"))
      // every token is allocated a slot; slots never undershoot tokens
      assert(r.getAs[Long]("n_seqs") * 256 >= r.getAs[Long]("total_tokens"))
    }
  }

  test("q57 two-level IVF: 3 ranked neighbors per query, valid cosines") {
    val rows = Queries.queries("q57_ann_ivf2")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 3, s"qid $q returned ${rs.length} neighbors")
      val cos = rs.map(_.getAs[Double]("cos_sim"))
      assert(cos.forall(c => c >= -1.0000001 && c <= 1.0000001))
      assert(cos.sameElements(cos.sortBy(-_)), s"qid $q neighbors not rank-ordered")
    }
  }

  test("every query has oracle SQL registered") {
    val missing = Queries.all.map(_._1).filterNot(Queries.oracleSql.contains)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("q165 Mann-Whitney: U within [0, 2·n1·n2], AUC within [0, 1000]") {
    Queries.queries("q165_mannwhitney")(spark, sfDir).collect().foreach { r =>
      val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
      val u2 = r.getAs[Long]("u1_x2")
      assert(n1 > 0 && n2 > 0)
      assert(u2 >= 0 && u2 <= 2 * n1 * n2, s"doubled U out of range: $u2")
      val auc = r.getAs[Long]("auc_permille")
      assert(auc >= 0 && auc <= 1000)
    }
  }

  test("q166 KS: gap numerator bounded by n1·n2, per-mille in [0, 1000]") {
    Queries.queries("q166_ks_drift")(spark, sfDir).collect().foreach { r =>
      val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
      assert(r.getAs[Long]("d_num") <= n1 * n2)
      val pm = r.getAs[Long]("d_permille")
      assert(pm >= 0 && pm <= 1000)
    }
  }

  test("q167 Gini: numerator within [0, den], per-mille in [0, 1000]") {
    Queries.queries("q167_gini")(spark, sfDir).collect().foreach { r =>
      val (num, den) = (r.getAs[Long]("gini_num"), r.getAs[Long]("gini_den"))
      assert(num >= 0 && num <= den, s"gini $num/$den out of [0,1]")
    }
  }

  test("q170 Benford: digits 1-9 once each, expectations sum to 1000") {
    val rows = Queries.queries("q170_benford")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    assert(rows.map(_.getAs[Long]("exp_permille")).sum == 1000L)
  }

  test("q171 bootstrap: order statistics are ordered around the point") {
    Queries.queries("q171_bootstrap_ci")(spark, sfDir).collect().foreach { r =>
      val (lo, mid, hi) = (r.getAs[Long]("boot_p05_cents"),
        r.getAs[Long]("boot_p50_cents"), r.getAs[Long]("boot_p95_cents"))
      assert(lo <= mid && mid <= hi, s"CI not ordered: $lo $mid $hi")
      // Poisson(1) multiplicities have mean 1: the band should bracket
      // a value of the point total's magnitude (loose 2x sanity check)
      val point = r.getAs[Long]("point_cents")
      assert(hi > point / 2 && lo < point * 2)
    }
  }

  test("q172 clustering coefficients within [0, 1000] and deg >= 2") {
    Queries.queries("q172_local_clustering")(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("deg") >= 2)
      val pm = r.getAs[Long]("coeff_permille")
      assert(pm >= 0 && pm <= 1000, s"coefficient $pm outside [0,1000]")
    }
  }

  test("q173 hard negatives never share the anchor's label") {
    val rows = Queries.queries("q173_hard_negatives")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Int]("q_label") != r.getAs[Int]("c_label")))
  }

  test("q174 life table: at-risk decreasing, exits bounded, total balances") {
    val rows = Queries.queries("q174_life_table")(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("week"))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_event") + r.getAs[Long]("n_censored")
        <= r.getAs[Long]("n_enter"))
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_enter") <= a.getAs[Long]("n_enter"))
      case _ =>
    }
    val exits = rows.map(r => r.getAs[Long]("n_event") + r.getAs[Long]("n_censored")).sum
    assert(exits == rows.head.getAs[Long]("n_enter"),
      "every at-risk customer must exit exactly once")
  }

  test("q176 bounded funnel: monotone and never above the unbounded funnel") {
    val bounded = Queries.queries("q176_bounded_funnel")(spark, sfDir).collect()
      .map(r => r.getAs[Int]("stage_idx") -> r.getAs[Long]("n_users")).toMap
    val free = Queries.queries("q94_funnel")(spark, sfDir).collect()
      .map(r => r.getAs[Int]("stage_idx") -> r.getAs[Long]("n_users")).toMap
    (1 to 3).foreach(i =>
      assert(bounded(i + 1) <= bounded(i), s"stage ${i + 1} grew"))
    bounded.foreach { case (s, n) =>
      assert(n <= free(s), s"time-boxed stage $s exceeds unbounded funnel")
    }
  }

  test("q178 revenue bridge closes: start + components = end") {
    val m = Queries.queries("q178_revenue_bridge")(spark, sfDir).collect()
      .map(r => r.getAs[String]("component") -> r.getAs[Long]("cents")).toMap
    val start = m("1_start_y1")
    val end = m("7_end_y2")
    val delta = m.getOrElse("2_new_parts", 0L) + m.getOrElse("3_grown_parts", 0L) +
      m.getOrElse("4_shrunk_parts", 0L) + m.getOrElse("5_lost_parts", 0L)
    assert(start + delta == end, s"bridge gap: $start + $delta != $end")
  }

  test("q179 ABC: shares non-increasing A>=B, all parts classified") {
    val rows = Queries.queries("q179_abc_class")(spark, sfDir).collect()
    val m = rows.map(r => r.getAs[String]("abc_class") ->
      r.getAs[Long]("revenue_permille")).toMap
    // A carries at least as much revenue share as B by construction
    for (a <- m.get("A"); b <- m.get("B")) assert(a >= b)
    assert(rows.map(_.getAs[Long]("revenue_permille")).sum <= 1000)
  }

  test("q180 MMR: rank-1 equals the top cosine hit; scores weakly decrease") {
    val rows = Queries.queries("q180_mmr_rerank")(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("qid"))
    assert(rows.nonEmpty)
    rows.values.foreach { picks =>
      val byRank = picks.sortBy(_.getAs[Int]("rank"))
      // greedy invariant: the first pick maximizes raw relevance
      assert(byRank.head.getAs[Double]("rel") ==
        picks.map(_.getAs[Double]("rel")).max)
      // each pick's MMR score never exceeds the previous pick's
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(b.getAs[Double]("mmr_score")
          <= a.getAs[Double]("mmr_score") + 1e-12)
        case _ =>
      }
    }
  }

  test("q187 k-anonymity: classes partition the table; l <= k; flag honest") {
    val rows = Queries.queries("q187_k_anonymity")(spark, sfDir).collect()
    val total = Tables.customer(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("k_size")).sum == total,
      "equivalence classes must partition the customer table")
    rows.foreach { r =>
      val (k, l) = (r.getAs[Long]("k_size"), r.getAs[Long]("l_div"))
      assert(l >= 1 && l <= k, s"l-diversity $l outside [1, $k]")
      assert(r.getAs[Int]("at_risk") == (if (k < 5) 1 else 0))
    }
  }

  test("q188 trending: bounded top-k, positive recent volume, exact lift") {
    val rows = Queries.queries("q188_trending_items")(spark, sfDir).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("recent_cnt") >= 1)
      assert(r.getAs[Long]("prior_cnt") >= 0)
      assert(r.getAs[Long]("lift_milli") >= 0)
    }
    // ranked by lift
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("lift_milli") >= b.getAs[Long]("lift_milli"))
      case _ =>
    }
  }

  test("q189 stratified sample: exact global quota, strata proportional") {
    val rows = Queries.queries("q189_stratified_sample")(spark, sfDir).collect()
    val d = Tables.documents(spark, sfDir)
    val n = d.count()
    assert(rows.length == (n / 10).toInt,
      s"largest-remainder total must be exactly N div 10: ${rows.length} vs ${n / 10}")
    // each stratum's sample is proportional to the row: floor or floor+1
    val pop = d.groupBy("lang", "source").count().collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("count")).toMap
    val target = n / 10
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
      .foreach { case (k, picked) =>
        val base = pop(k) * target / n
        assert(picked.length == base || picked.length == base + 1,
          s"stratum $k got ${picked.length}, expected $base or ${base + 1}")
      }
  }

  test("q191 PMI: pair support bounded by unigram counts, lift positive") {
    val rows = Queries.queries("q191_pmi_collocations")(spark, sfDir).collect()
    assert(rows.length <= 30 && rows.nonEmpty)
    rows.foreach { r =>
      val (cxy, cx, cy) = (r.getAs[Long]("c_xy"),
        r.getAs[Long]("c_x"), r.getAs[Long]("c_y"))
      assert(cxy >= 5, "min support")
      assert(cxy <= cx && cxy <= cy,
        "a bigram cannot outnumber either of its unigrams")
      assert(r.getAs[Double]("lift") > 0.0)
    }
  }

  test("q192 IND discovery: finds every true FK, incl. the unaudited one") {
    val rows = Queries.queries("q192_inclusion_deps")(spark, sfDir).collect()
      .map(r => (r.getAs[String]("child_col"), r.getAs[String]("parent_col"))
        -> r).toMap
    assert(rows.size == 12 * 11, "full ordered candidate-pair grid")
    val trueInds = Seq(
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "lineitem.l_partkey" -> "part.p_partkey",
      "lineitem.l_suppkey" -> "supplier.s_suppkey",
      "orders.o_custkey" -> "customer.c_custkey",
      "customer.c_nationkey" -> "nation.n_nationkey",
      "supplier.s_nationkey" -> "nation.n_nationkey",
      "events.user_id" -> "customer.c_custkey")
    trueInds.foreach { pair =>
      assert(rows(pair).getAs[Int]("holds") == 1, s"$pair must hold")
      assert(rows(pair).getAs[Long]("contained_permille") == 1000L)
    }
    // and a pair that must NOT hold: order keys are not part keys
    assert(rows(("orders.o_orderkey", "part.p_partkey")).getAs[Int]("holds") == 0)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_child"))
    }
  }

  test("q194 SLA: quantiles ordered, per-mille bounded, every order shipped") {
    val rows = Queries.queries("q194_ship_sla")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_orders")).sum
    // every order with at least one lineitem reports exactly one latency
    val want = Tables.lineitem(spark, sfDir).select("l_orderkey").distinct().count()
    assert(total == want)
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days"))
      val pm = r.getAs[Long]("within_sla_permille")
      assert(pm >= 0 && pm <= 1000)
    }
  }

  test("q195 DQ suite: one row per check, pass flag consistent") {
    val rows = Queries.queries("q195_dq_expectations")(spark, sfDir).collect()
    assert(rows.length == 7, "all seven expectations must report")
    rows.foreach { r =>
      val v = r.getAs[Long]("violations")
      assert(v >= 0)
      assert(r.getAs[Int]("pass") == (if (v == 0) 1 else 0))
    }
    // the suite catches the REAL duplicate-key defect in the synthetic
    // lineitem: (l_orderkey, l_linenumber) is not unique
    val uniq = rows.find(_.getAs[String]("check_name") == "c6_key_unique").get
    assert(uniq.getAs[Int]("pass") == 0 && uniq.getAs[Long]("violations") > 0,
      "the generated lineitem carries duplicate line keys; the check must see them")
  }

  test("q193 NB confusion matrix partitions the corpus over real labels") {
    val rows = Queries.queries("q193_nb_langid")(spark, sfDir).collect()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(rows.map(_.getAs[Long]("n_docs")).sum
      == Tables.documents(spark, sfDir).count(),
      "every document must land in exactly one confusion cell")
    rows.foreach { r =>
      assert(langs(r.getAs[String]("actual")))
      assert(langs(r.getAs[String]("predicted")),
        "predictions must come from the trained label set")
      assert(r.getAs[Long]("n_docs") >= 1)
    }
  }

  test("q201 k-center: distinct picks, seed first, covering distance non-increasing") {
    val rows = Queries.queries("q201_kcenter_coreset")(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 5)
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length, "a center may be picked once")
    // greedy farthest-point law: each pick's distance to the selected
    // set is the max-min over remaining points, so the sequence of
    // covering distances never increases (Gonzalez 1985)
    val d2 = rows.map(_.getAs[Long]("d2_nearest")).drop(1) // rank 1 is the seed
    d2.sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"covering distance grew: $a -> $b")
      case _ =>
    }
    assert(d2.forall(_ > 0), "distinct vectors: min distance must be positive")
  }

  test("q202 binary-hash ANN: hamming within [0,64], ranked, cosine valid") {
    val rows = Queries.queries("q202_binary_sign_ann")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      assert(rs.length == 3, s"qid $q returned ${rs.length} neighbors")
      val h = rs.map(_.getAs[Long]("hamming"))
      assert(h.forall(x => x >= 0 && x <= 64), s"qid $q hamming out of range")
      assert(h.sorted.sameElements(h), s"qid $q not hamming-ranked")
      rs.map(_.getAs[Double]("cos_sim")).foreach(c =>
        assert(c >= -1.0000001 && c <= 1.0000001))
    }
  }

  test("q190 postings: varint never beats 1 byte/posting or loses to raw") {
    val rows = Queries.queries("q190_postings_cost")(spark, sfDir).collect()
    assert(rows.length <= 50 && rows.nonEmpty)
    rows.foreach { r =>
      val (df, vb, raw) = (r.getAs[Long]("df"),
        r.getAs[Long]("varint_bytes"), r.getAs[Long]("raw_bytes"))
      assert(raw == 8 * df)
      assert(vb >= df, "at least one byte per posting")
      assert(vb <= 5 * df, "LEB128 of a sub-2^35 id is at most 5 bytes")
      assert(r.getAs[Long]("ratio_permille") <= 1000)
    }
  }
}
