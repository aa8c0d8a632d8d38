package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable-sketch operators — the approximate-analytics layer a 100 TB
  * warehouse runs where exact answers are either unnecessary (distinct
  * counts for monitoring) or unaffordable (per-item frequencies over a
  * token stream).
  *
  * Both sketches here are DISTRIBUTIVE aggregates: executors build partial
  * sketches scan-locally, and the exchange carries fixed-size sketch bytes
  * (KBs) instead of per-key state — the property that makes them viable at
  * any scale and incrementally maintainable (yesterday's sketch unions
  * with today's batch; nothing is recomputed). The HLL side uses Spark's
  * built-in DataSketches aggregates (`hll_sketch_agg` / `hll_union_agg`),
  * whose union is LOSSLESS at fixed lgConfigK: the union of shard sketches
  * is byte-equivalent to a single sketch of the whole — asserted by the
  * driver gate, which is exactly the incremental-maintenance contract.
  */
object Sketches {

  /** Heavy hitters with count-min-sketch error certification: the top-k
    * items by exact count, each flagged with the CMS guarantees
    * (`estimate ≥ truth`, always; `estimate ≤ truth + ⌈eps·N⌉`, w.p.
    * `confidence` — deterministic here because the sketch seed is fixed).
    *
    * Distribution shape: the sketch is built by a distributive aggregate
    * (partials merge across the exchange); only the finished sketch —
    * `O(1/eps · ln(1/δ))` counters, independent of N — and the k result
    * rows ever reach the driver. The exact top-k pass exists to CERTIFY
    * the sketch in the gate; a production pipeline ships the sketch alone.
    *
    * Error-contract enforcement: `estimate ≥ truth` holds ALWAYS (CMS
    * never under-counts — a violation is an implementation bug) and is
    * require-checked unconditionally. The upper bound
    * `estimate ≤ truth + ⌈eps·N⌉` holds only with probability
    * `confidence` PER QUERY — on arbitrary data/seeds a legitimate
    * ~(1−confidence) tail event would otherwise crash the operator
    * instead of being observable in its output, so it is checked only
    * under `strictBound` (the fixed-seed driver gate sets it: there the
    * bound is deterministic and a trip means a regression, not tail
    * luck). Library callers read the violation off the returned
    * `est_cnt`/`true_cnt` columns instead.
    */
  def cmsHeavyHitters(items: DataFrame, itemCol: String, k: Int,
                      eps: Double, confidence: Double,
                      seed: Int, strictBound: Boolean = false): DataFrame = {
    require(items.schema(itemCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"cmsHeavyHitters certifies string items; $itemCol is " +
        items.schema(itemCol).dataType.simpleString)
    require(k > 0 && eps > 0 && confidence > 0 && confidence < 1,
      s"invalid sketch parameters: k=$k eps=$eps confidence=$confidence")
    val spark = items.sparkSession
    val sk = items.agg(
      expr(s"count_min_sketch($itemCol, CAST($eps AS DOUBLE), " +
        s"CAST($confidence AS DOUBLE), $seed)").as("cms"),
      count(lit(1)).as("n")).head()
    if (sk.isNullAt(0)) { // zero input rows aggregate to a NULL sketch
      import spark.implicits._
      return Seq.empty[(String, Long, Long)]
        .toDF(itemCol, "true_cnt", "est_cnt")
    }
    val cms = CountMinSketch.readFrom(
      new ByteArrayInputStream(sk.getAs[Array[Byte]]("cms")))
    val slack = math.ceil(eps * sk.getAs[Long]("n")).toLong
    val top = items.groupBy(col(itemCol))
      .agg(count(lit(1)).as("true_cnt"))
      .orderBy(desc("true_cnt"), col(itemCol))
      .limit(k).collect()
    // estimate ≥ truth is unconditional (a violation is a bug); the
    // probabilistic upper bound trips only under strictBound (see
    // scaladoc). The returned rows carry the raw ESTIMATES so the driver
    // gate hashes the sketch's actual output against a full DuckDB
    // replay of the sketch, not a flag
    val rows = top.toIndexedSeq.map { r =>
      val item = r.getString(0)
      val t = r.getLong(1)
      val est = cms.estimateCount(item)
      require(est >= t,
        s"CMS under-counted '$item': est=$est true=$t — " +
          "count-min can never under-estimate; implementation bug")
      require(!strictBound || est <= t + slack,
        s"CMS error bound violated for '$item': est=$est " +
          s"true=$t slack=$slack")
      (item, t, est)
    }
    import spark.implicits._
    rows.toDF(itemCol, "true_cnt", "est_cnt")
      .orderBy(itemCol)
  }

  /** Number of bits per Bloom word — 32 keeps every word value positive
    * in a signed 64-bit lane on both engines (1 << 31 fits BIGINT), so
    * the filter is bit-replayable with no shift-overflow hazards. */
  val BloomWordBits = 32

  /** Per-key Bloom bit positions via Kirsch–Mitzenmacher double hashing:
    * pos_j = (h1 + j·step) mod m with h1 = rolling_hash64(key) mod m and
    * step = 1 + rolling_hash64('g2:' || key) mod (m−1) (never 0, so the
    * k probes never collapse onto one bit). Both hashes are the codegen'd
    * Rabin–Karp Horner fold — integer-exact and DuckDB-replayable. */
  private def bloomPositions(key: org.apache.spark.sql.Column,
                             mBits: Int, kHashes: Int) = {
    val h1 = pmod(call_function("rolling_hash64", key), lit(mBits.toLong))
    val step = lit(1L) + pmod(
      call_function("rolling_hash64", concat(lit("g2:"), key)),
      lit(mBits.toLong - 1L))
    transform(sequence(lit(0L), lit(kHashes.toLong - 1L)),
      j => pmod(h1 + j * step, lit(mBits.toLong)))
  }

  /** Build a Bloom filter over `keys(keyCol)` as a DataFrame of 32-bit
    * words: (word_idx, bits) — only words with at least one set bit are
    * emitted (absent ⇒ 0). `mBits` must be a multiple of 32.
    *
    * Scale shape: a DISTRIBUTIVE bit-or aggregate — executors fold their
    * partition's keys into partial words scan-locally and the exchange
    * carries at most m/32 rows regardless of key count; the finished
    * filter is KBs and broadcastable, which is the point: build once over
    * a dimension's join keys, then pre-filter a 100 TB fact scan
    * map-side ([[bloomMightContain]]) before the real join — the
    * semi-join-pushdown pattern (Spark's own runtime row-group Bloom
    * pushdown does this inside parquet; this one is engine-portable and
    * hash-gatable bit for bit). */
  def bloomBuild(keys: DataFrame, keyCol: String,
                 mBits: Int, kHashes: Int): DataFrame = {
    require(mBits > 0 && mBits % BloomWordBits == 0,
      s"mBits must be a positive multiple of $BloomWordBits: $mBits")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes out of range: $kHashes")
    graft.Functions.ensure(keys.sparkSession)
    keys.select(col(keyCol).as("key")).where(col("key").isNotNull)
      .distinct()
      .select(explode(bloomPositions(col("key"), mBits, kHashes)).as("pos"))
      .groupBy((col("pos") / BloomWordBits).cast("long").as("word_idx"))
      .agg(call_function("bit_or",
        call_function("shiftleft", lit(1L),
          (col("pos") % BloomWordBits).cast("int"))).as("bits"))
  }

  /** Probe a [[bloomBuild]] filter: (key, maybe_present) per distinct
    * probe key — `maybe_present` is false only when some probed bit is
    * unset (no false negatives, by construction). The filter words are
    * broadcast, so the probe is one map-side join on word_idx: the shape
    * that lets a scan drop rows before any fact-sized exchange. */
  def bloomMightContain(filter: DataFrame, probes: DataFrame,
                        keyCol: String, mBits: Int,
                        kHashes: Int): DataFrame = {
    require(mBits > 0 && mBits % BloomWordBits == 0,
      s"mBits must be a positive multiple of $BloomWordBits: $mBits")
    graft.Functions.ensure(probes.sparkSession)
    probes.select(col(keyCol).as("key")).where(col("key").isNotNull)
      .distinct()
      .select(col("key"),
        explode(bloomPositions(col("key"), mBits, kHashes)).as("pos"))
      .select(col("key"), (col("pos") / BloomWordBits).cast("long")
        .as("word_idx"), (col("pos") % BloomWordBits).cast("int").as("bit"))
      .join(broadcast(filter), Seq("word_idx"), "left")
      .groupBy("key")
      .agg(min(call_function("shiftright",
          coalesce(col("bits"), lit(0L)), col("bit"))
        .bitwiseAND(lit(1L))).as("__min_bit"))
      .select(col("key"), (col("__min_bit") === 1L).as("maybe_present"))
  }

  /** Bloom-pre-filtered inner equi join: build a filter over the dim
    * side's join keys, drop every fact row whose key cannot be in the dim
    * MAP-SIDE, then run the exact join on the survivors — false positives
    * fall out of the real join, false negatives cannot exist, so the
    * result is ROW-IDENTICAL to `fact JOIN dim` (the gate hash-pins
    * this). Keys hash through their canonical string form, so any
    * key type probes the same filter [[bloomBuild]] built.
    *
    * Scale shape — the reason this exists: when the dim side is filtered
    * ("suppliers in nation 5") the shuffled join still exchanges EVERY
    * fact row; here the filter words densify into ONE array row (m/32
    * longs, KBs) broadcast to every scan task, and each fact row tests
    * its k bit positions in-place — non-matching rows die before the
    * fact-sized exchange. At a 0.1% match rate that is a 1000× cut in
    * shuffled bytes for one broadcast variable; Spark's own runtime
    * bloom pushdown makes the same trade inside parquet, this form is
    * engine-portable and composes with any downstream plan. */
  def bloomJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                dimKey: String, mBits: Int = 16384,
                kHashes: Int = 4): DataFrame = {
    require(mBits > 0 && mBits % BloomWordBits == 0,
      s"mBits must be a positive multiple of $BloomWordBits: $mBits")
    val nWords = mBits / BloomWordBits
    val words = bloomBuild(dim.select(col(dimKey).cast("string")), dimKey,
        mBits, kHashes)
      .agg(map_from_entries(collect_list(struct(col("word_idx"),
        col("bits")))).as("__m"))
      .select(transform(sequence(lit(0L), lit(nWords.toLong - 1L)),
        i => coalesce(element_at(col("__m"), i), lit(0L)))
        .as("__bloom_words"))
    val passed = fact.crossJoin(broadcast(words))
      .where(forall(
        bloomPositions(col(factKey).cast("string"), mBits, kHashes),
        p => call_function("shiftright",
            element_at(col("__bloom_words"),
              (p / BloomWordBits).cast("int") + 1),
            (p % BloomWordBits).cast("int"))
          .bitwiseAND(lit(1L)) === 1L))
      .drop("__bloom_words")
    passed.join(dim, passed(factKey) === dim(dimKey))
  }
}
