package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: generate a SCALED copy of the synthetic corpus for the
  * scale study (PERF.md) — same statistical shape as the driver's
  * tables, N× the rows, fully deterministic (every random draw is an
  * xxhash64 of the row id, so the output is independent of partitioning
  * and re-runs bit-identically).
  *
  * Self-calibrating: vocabulary, language mix, twin density and
  * embedding cluster centroids/spreads are measured FROM the base
  * dataset rather than hardcoded, so the generated corpus tracks the
  * driver generator's observable statistics:
  *  - documents: uniform token draws from the base's 30-word core
  *    vocabulary, uniform 10–100 token lengths, source = src{id%20}
  *    (the base's exact layout), languages at the base's measured mix;
  *    ~1/19 of docs are near-identical TWINS of their predecessor (one
  *    interior token replaced by the rare `dup` marker — J ≳ 0.85 on
  *    3-gram shingles for docs ≥ 30 tokens, the base's planted-pair
  *    density), which also reproduces the base's directed-containment
  *    pair density (a twin contains ~94% of its base both ways).
  *  - embeddings: 10 clusters; per-(label, dim) mean/std measured from
  *    the base, points = centroid + Box–Muller Gaussian noise.
  *  - customer/supplier/orders/lineitem: scaled ×N with contiguous keys,
  *    the base's name layout, measured categorical weights and the
  *    base's per-parent fan-out shape; referential integrity holds by
  *    construction (the q89/q189/q249 study families).
  *  - region/nation/part are copied unchanged (fixed dimensions).
  *
  * Usage: ScaleGen <baseDir> <outDir> <factor>
  */
object ScaleGen {

  /** Write `df` as ONE parquet FILE at `$out/$name.parquet` — the
    * driver's physical layout. The layout is load-bearing, not
    * cosmetic: StreamGate's staging symlinks `<table>.parquet` into a
    * file-stream source dir, and a symlinked DIRECTORY yields zero
    * input files there — the doc-stream gates then measure an empty
    * stream's floor while looking green (caught in the round-11
    * streaming study: rows=0 at every factor). */
  private def writeSingleFile(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpDir = java.nio.file.Paths.get(tmp)
    // list once into a collection and close the stream (Files.list holds
    // a directory handle until closed)
    val entries = {
      val st = java.nio.file.Files.list(tmpDir)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        st.forEach(p => b += p)
        b.result()
      } finally st.close()
    }
    val part = entries.find(_.getFileName.toString.endsWith(".parquet"))
    require(part.isDefined, s"no part file produced for $name")
    java.nio.file.Files.move(part.get,
      java.nio.file.Paths.get(s"$out/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    entries.filterNot(_ == part.get).foreach(java.nio.file.Files.delete(_))
    java.nio.file.Files.delete(tmpDir)
  }

  def main(args: Array[String]): Unit = {
    val base = args(0); val out = args(1); val factor = args(2).toInt
    val spark = GraftSession.local()
    generate(spark, base, out, factor,
             zipf = args.length > 3 && args(3) == "zipf")
    spark.stop()
  }

  /** The generation body, callable from a host session (ScaleGenSpec
    * pins the output contract on this). */
  /** `zipf = true` swaps the base-calibrated constant vocabulary for a
    * REALISTIC one: tokens drawn Zipf(s = 1) over a vocabulary that
    * grows with the corpus by Heaps' law (V ∝ √totalTokens), via the
    * classic inverse-CDF draw rank = ⌊V^u⌋. The constant-vocab mode is
    * the adversarial hot-shingle regime (df ∝ corpus size — posting-
    * join exponents are upper bounds); the zipf mode measures the
    * long-tail regime a real crawl corpus exhibits, where rare
    * shingles keep their df as the corpus grows. Twins, lengths,
    * languages and sources are generated identically in both modes. */
  def generate(spark: SparkSession, base: String, out: String,
               factor: Int, zipf: Boolean = false): Unit = {
    // ---- calibrate from the base corpus ----------------------------
    val baseDocs = spark.read.parquet(s"$base/documents.parquet")
    val nDocs = baseDocs.count() * factor
    // core vocabulary: every token within 2× of the modal count (the
    // base is a uniform 30-word draw + the rare `dup` marker)
    val tokCounts = baseDocs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .collect()
    val modal = tokCounts.head.getLong(1)
    val vocab = tokCounts.filter(_.getLong(1) * 2 > modal).map(_.getString(0))
    require(vocab.length >= 10, s"degenerate base vocabulary: ${vocab.length}")
    // language mix in per-mille, deterministic order
    val langRows = baseDocs.groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang").collect()
    val nBase = langRows.map(_.getLong(1)).sum.toDouble
    val langCut = langRows.scanLeft(("", 0L)) { case ((_, acc), r) =>
      (r.getString(0), acc + math.round(r.getLong(1) / nBase * 1000)) }.tail
    val nSources = baseDocs.select(countDistinct("source")).head().getLong(0)

    // ---- documents --------------------------------------------------
    val v = vocab.length
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    def lenOf(idCol: String) = s"(10 + pmod(xxhash64($idCol, 0L), 91))"
    val langSql = langCut.init.foldRight(s"'${langCut.last._1}'") {
      case ((l, cut), tail) => s"IF(pmod(xxhash64(id, 999L), 1000) < $cut, '$l', $tail)"
    }
    val docs = spark.range(nDocs)
      .withColumn("is_twin", expr(
        s"id % 19 = 1 AND id >= 1 AND ${lenOf("id - 1")} >= 30"))
      .withColumn("sid", expr("IF(is_twin, id - 1, id)"))
      .withColumn("L", expr(lenOf("sid")))
      .withColumn("toks0", expr(
        if (!zipf)
          s"transform(sequence(1L, L), i -> element_at($vocabSql, " +
            s"cast(1 + pmod(xxhash64(sid, i), $v) as int)))"
        else {
          // Heaps vocabulary for THIS corpus size; Zipf(1) inverse CDF
          val bigV = math.max(100L,
            math.ceil(3 * math.sqrt(nDocs * 55.0)).toLong)
          s"transform(sequence(1L, L), i -> concat('w', cast(floor(" +
            s"power($bigV, (pmod(xxhash64(sid, i), 1000000) + 0.5) " +
            s"/ 1000000.0)) as bigint)))"
        }))
      // twin: ONE interior token -> the rare `dup` marker (kills 3
      // shingles of ~L-2: J = (S-3)/(S+3) >= 0.8 for S >= 27)
      .withColumn("p", expr("cast(3 + pmod(xxhash64(id, 12345L), L - 4) as bigint)"))
      .withColumn("toks", expr(
        "IF(is_twin, transform(toks0, (t, i) -> IF(i + 1 = p, 'dup', t)), toks0)"))
      .select(
        col("id").as("doc_id"),
        array_join(col("toks"), " ").as("text"),
        expr(langSql).as("lang"),
        expr(s"concat('src', pmod(id, $nSources))").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    writeSingleFile(docs, out, "documents")

    // ---- embeddings --------------------------------------------------
    val baseEmb = spark.read.parquet(s"$base/embeddings.parquet")
    val nEmb = baseEmb.count() * factor
    val dim = baseEmb.select(size(col("embedding"))).head().getInt(0)
    val stats = baseEmb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg("x").as("mu"), stddev_pop("x").as("sd"))
      .groupBy("label")
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)").as("mu"),
        expr("transform(array_sort(collect_list(struct(pos, sd))), s -> s.sd)").as("sd"))
    // draw labels from the base's ACTUAL label domain (not an assumed
    // 0..9): an inner join on a label outside the domain would silently
    // drop generated rows while the summary still claimed nEmb
    val labels = stats.select("label").orderBy("label")
      .collect().map(_.getInt(0))
    require(labels.nonEmpty, "base embeddings have no labels")
    val labelSql = labels.mkString("array(", ", ", ")")
    val emb = spark.range(nEmb)
      .select(col("id").as("vec_id"),
              expr(s"element_at($labelSql, cast(1 + pmod(xxhash64(id, 7L), " +
                s"${labels.length}) as int))").as("label"))
      .join(broadcast(stats), "label")
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dim - 1}), j -> cast(
              element_at(mu, j + 1) + element_at(sd, j + 1) *
              sqrt(-2.0 * ln((pmod(xxhash64(vec_id, cast(j * 2 + 101 as long)), 1000000) + 0.5) / 1000000.0)) *
              cos(2.0 * pi() * (pmod(xxhash64(vec_id, cast(j * 2 + 102 as long)), 1000000) + 0.5) / 1000000.0)
            as float))"""))
      .select("vec_id", "embedding", "label")
    writeSingleFile(emb, out, "embeddings")

    // ---- events ------------------------------------------------------
    // calibrated: event-type domain + weights, user count (scaled ×N so
    // events-per-user stays constant — the sessionize/funnel grain), the
    // base's time window (same window, ×N the rate — how scale-up
    // actually arrives), exponential values at the base's measured mean
    val baseEv = spark.read.parquet(s"$base/events.parquet")
    val nEv = baseEv.count() * factor
    val types = baseEv.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.getString(0))
    val nUsers = baseEv.select(countDistinct("user_id")).head().getLong(0) * factor
    val (tsMin, tsMax) = {
      val r = baseEv.agg(expr("min(unix_millis(cast(ts as timestamp)))"),
                         expr("max(unix_millis(cast(ts as timestamp)))")).head()
      (r.getLong(0), r.getLong(1))
    }
    // pmod(x, tsMax - tsMin) with a zero modulus returns NULL — a base
    // table with one distinct timestamp would silently write NULL ts for
    // every generated event (the vocabulary/labels degenerate-base guard,
    // applied to the time window)
    require(tsMax > tsMin,
      s"degenerate base events window: min ts == max ts ($tsMin)")
    val meanValue = baseEv.agg(avg("value")).head().getDouble(0)
    val typesSql = types.map(t => s"'$t'").mkString("array(", ", ", ")")
    val ev = spark.range(nEv).select(
      col("id").as("event_id"),
      // NTZ to match the base table's physical type (UTC session: equal)
      expr(s"cast(timestamp_millis(${tsMin}L + pmod(xxhash64(id, 1L), " +
        s"${tsMax - tsMin}L)) as timestamp_ntz)").as("ts"),
      expr(s"pmod(xxhash64(id, 2L), ${nUsers}L)").as("user_id"),
      expr(s"element_at($typesSql, cast(1 + pmod(xxhash64(id, 3L), " +
        s"${types.length}) as int))").as("event_type"),
      // exponential at the base's mean: value = −mean·ln(u), u ∈ (0, 1]
      expr(s"round(-$meanValue * ln((pmod(xxhash64(id, 4L), 1000000) + 0.5) " +
        s"/ 1000000.0), 2)").as("value"),
      expr("concat('{\"k\": ', pmod(xxhash64(id, 5L), 100), '}')").as("props"))
    writeSingleFile(ev, out, "events")

    // ---- relational tables (customer/supplier/orders/lineitem) ------
    // scaled ×N so the entity-resolution / quality-audit / join-planning
    // families (q89/q189/q249) get measured exponents too (r11 caveat b:
    // they were excluded because these tables didn't scale). Calibrated
    // from the base: key domains stay CONTIGUOUS from 0 (the name layout
    // `<prefix>#%09d` that q89's deletion-neighborhood candidates key
    // on), per-key fan-outs keep the base's mean (o_custkey / l_orderkey
    // are uniform hash draws over the scaled parent domain, so the
    // per-parent degree distribution stays binomial ≈ the base's
    // Poisson — the base's key-skew shape at every factor), referential
    // integrity holds by construction (child keys are pmod draws over
    // the parent range — q189's audit must PASS at every factor), and
    // categorical/value columns draw from the base's measured domains
    // and per-mille weights (value columns are range-calibrated only;
    // no study family reads them). region/nation/part stay copied —
    // fixed dimension tables.
    def weightedSql(rows: Array[(String, Long)], seed: Long): String = {
      val tot = rows.map(_._2).sum.toDouble
      val cut = rows.scanLeft(("", 0L)) { case ((_, acc), (v2, n)) =>
        (v2, acc + math.round(n / tot * 1000)) }.tail
      cut.init.foldRight(s"'${cut.last._1}'") { case ((v2, c), tail) =>
        s"IF(pmod(xxhash64(id, ${seed}L), 1000) < $c, '$v2', $tail)"
      }
    }
    def domainOf(df: DataFrame, c: String): Array[(String, Long)] =
      df.groupBy(c).agg(count(lit(1)).as("n")).orderBy(c)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    def rangeOf(df: DataFrame, c: String): (Double, Double) = {
      val r = df.agg(min(col(c)), max(col(c))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    def uniformSql(lo: Double, hi: Double, seed: Long): String =
      // cast: interpolated decimal literals would otherwise type the
      // whole expression DECIMAL; the base columns are doubles
      s"cast(round($lo + (pmod(xxhash64(id, ${seed}L), 1000000) + 0.5) " +
        s"/ 1000000.0 * ${hi - lo}, 2) as double)"
    def tsWindowOf(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(expr(s"min(unix_millis(cast($c as timestamp)))"),
                     expr(s"max(unix_millis(cast($c as timestamp)))")).head()
      (r.getLong(0), r.getLong(1))
    }
    def uniformTsSql(w: (Long, Long), seed: Long): String = {
      require(w._2 > w._1, s"degenerate base time window: $w")
      s"cast(timestamp_millis(${w._1}L + pmod(xxhash64(id, ${seed}L), " +
        s"${w._2 - w._1}L)) as timestamp_ntz)"
    }
    // a party table's name column is `<prefix><zero-padded key>`; measure
    // the prefix + digit width from the base instead of assuming them
    def nameLayoutOf(df: DataFrame, key: String, name: String): (String, Int) = {
      val r = df.orderBy(col(key)).select(col(key), col(name)).head()
      val nm = r.getString(1)
      val digits = nm.reverse.takeWhile(_.isDigit).length
      val prefix = nm.dropRight(digits)
      require(digits > 0 && nm == prefix + ("%0" + digits + "d").format(r.getLong(0)),
        s"unexpected $name layout: $nm")
      (prefix, digits)
    }

    val baseCust = spark.read.parquet(s"$base/customer.parquet")
    val nCust = baseCust.count() * factor
    val (cPrefix, cDigits) = nameLayoutOf(baseCust, "c_custkey", "c_name")
    // lpad TRUNCATES past the target width: a key count beyond the
    // measured digit layout would silently collide generated names,
    // breaking the contiguous-key/name-layout contract q89 keys on —
    // fail loudly instead (ADVICE r12)
    require(nCust <= math.pow(10, cDigits).toLong,
      s"customer count $nCust exceeds the base's $cDigits-digit name " +
        "layout: names would truncate and collide")
    val nNations = baseCust.select(countDistinct("c_nationkey")).head().getLong(0)
    val segSql = weightedSql(domainOf(baseCust, "c_mktsegment"), 23L)
    val cBal = rangeOf(baseCust, "c_acctbal")
    val cust = spark.range(nCust).select(
      col("id").as("c_custkey"),
      expr(s"concat('$cPrefix', lpad(cast(id as string), $cDigits, '0'))")
        .as("c_name"),
      expr(s"cast(pmod(xxhash64(id, 21L), $nNations) as int)").as("c_nationkey"),
      expr(uniformSql(cBal._1, cBal._2, 22L)).as("c_acctbal"),
      expr(segSql).as("c_mktsegment"))
    writeSingleFile(cust, out, "customer")

    val baseSupp = spark.read.parquet(s"$base/supplier.parquet")
    val nSupp = baseSupp.count() * factor
    val (sPrefix, sDigits) = nameLayoutOf(baseSupp, "s_suppkey", "s_name")
    require(nSupp <= math.pow(10, sDigits).toLong,
      s"supplier count $nSupp exceeds the base's $sDigits-digit name " +
        "layout: names would truncate and collide")
    val sBal = rangeOf(baseSupp, "s_acctbal")
    val supp = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      expr(s"concat('$sPrefix', lpad(cast(id as string), $sDigits, '0'))")
        .as("s_name"),
      expr(s"cast(pmod(xxhash64(id, 31L), $nNations) as int)").as("s_nationkey"),
      expr(uniformSql(sBal._1, sBal._2, 32L)).as("s_acctbal"))
    writeSingleFile(supp, out, "supplier")

    val baseOrd = spark.read.parquet(s"$base/orders.parquet")
    val nOrd = baseOrd.count() * factor
    val statusSql = weightedSql(domainOf(baseOrd, "o_orderstatus"), 43L)
    val prioSql = weightedSql(domainOf(baseOrd, "o_orderpriority"), 44L)
    val oPrice = rangeOf(baseOrd, "o_totalprice")
    val oWin = tsWindowOf(baseOrd, "o_orderdate")
    val ord = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      expr(s"pmod(xxhash64(id, 41L), ${nCust}L)").as("o_custkey"),
      expr(statusSql).as("o_orderstatus"),
      expr(uniformSql(oPrice._1, oPrice._2, 42L)).as("o_totalprice"),
      expr(uniformTsSql(oWin, 45L)).as("o_orderdate"),
      expr(prioSql).as("o_orderpriority"))
    writeSingleFile(ord, out, "orders")

    val baseLi = spark.read.parquet(s"$base/lineitem.parquet")
    val nLi = baseLi.count() * factor
    val nParts = spark.read.parquet(s"$base/part.parquet").count()
    val rfSql = weightedSql(domainOf(baseLi, "l_returnflag"), 53L)
    val lsSql = weightedSql(domainOf(baseLi, "l_linestatus"), 54L)
    val lPrice = rangeOf(baseLi, "l_extendedprice")
    val lDisc = rangeOf(baseLi, "l_discount")
    val lTax = rangeOf(baseLi, "l_tax")
    val maxLine = baseLi.agg(max("l_linenumber")).head().getInt(0)
    val lWin = tsWindowOf(baseLi, "l_shipdate")
    val li = spark.range(nLi).select(
      expr(s"pmod(xxhash64(id, 51L), ${nOrd}L)").as("l_orderkey"),
      expr(s"pmod(xxhash64(id, 52L), ${nParts}L)").as("l_partkey"),
      expr(s"pmod(xxhash64(id, 55L), ${nSupp}L)").as("l_suppkey"),
      expr(s"cast(1 + pmod(xxhash64(id, 56L), $maxLine) as int)")
        .as("l_linenumber"),
      // q189's domain-range rule: quantities land in [1, 50] exactly
      expr("cast(1 + pmod(xxhash64(id, 57L), 50) as double)").as("l_quantity"),
      expr(uniformSql(lPrice._1, lPrice._2, 58L)).as("l_extendedprice"),
      expr(uniformSql(lDisc._1, lDisc._2, 59L)).as("l_discount"),
      expr(uniformSql(lTax._1, lTax._2, 60L)).as("l_tax"),
      expr(rfSql).as("l_returnflag"),
      expr(lsSql).as("l_linestatus"),
      expr(uniformTsSql(lWin, 61L)).as("l_shipdate"))
    writeSingleFile(li, out, "lineitem")

    // ---- remaining tables: copied from the base ---------------------
    for (t <- Seq("region", "nation", "part")) {
      val src = java.nio.file.Paths.get(s"$base/$t.parquet")
      if (java.nio.file.Files.exists(src))
        java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"""{"out":"$out","factor":$factor,"docs":$nDocs,"embeddings":$nEmb,"vocab":$v,"customer":$nCust,"orders":$nOrd,"lineitem":$nLi}""")
  }
}
