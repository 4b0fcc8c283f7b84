package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is non-replayable (a retry or a re-run draws a
  * different corpus) and cannot be verified by an external oracle. Here
  * inclusion is a pure function of the row id: a 32-bit uniform deviate
  * from md5(id ‖ salt), reduced mod 10⁴, compared against the stratum's
  * per-myriad threshold. Per-row, no shuffle, stable under retries,
  * recomputable by any engine with md5 — the property the DuckDB oracle
  * exercises. Distinct salts give independent samples.
  */
object Sampling {

  /** The raw 32-bit deviate: first 8 hex chars of md5(id ‖ salt) as a
    * long, uniform on [0, 2³²). THE single parity-critical expression
    * every deterministic sampling/packing operator reduces — keep all
    * call sites (and their DuckDB digit-parse oracle twins) on this one
    * definition. */
  def hashDeviate(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  /** [[hashDeviate]] reduced mod 10⁴ (per-myriad bucket). The mod-10⁴
    * bias is ≤ 2⁻¹⁸ — immaterial for corpus sampling and identical in
    * every engine. */
  def hashBucket(id: Column, salt: String): Column =
    pmod(hashDeviate(id, salt), lit(10000L))

  /** Per-stratum Bernoulli sampling: keep a row iff its bucket falls
    * under `rates(stratum)` (fraction in [0,1]; strata absent from the
    * map use `defaultRate`). The canonical rebalancing device: downsample
    * the majority language, keep minority strata whole. */
  def stratifiedBernoulli(
      df: DataFrame,
      strata: Column,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    val threshold = rates.foldLeft(lit(math.round(defaultRate * 10000))) {
      case (acc, (k, v)) => when(strata === k, lit(math.round(v * 10000))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < threshold)
  }

  /** Resample to a target category mixture (e.g. "30% src0, 30% src1,
    * 40% src2") without ever upsampling: the largest feasible kept-total
    * is `min_i count_i·10⁴/t_i` over targeted categories (t_i = target
    * per-myriad), giving per-category keep thresholds
    * `min(10⁴, feasible·t_i/count_i)`. All threshold math is integer
    * (floors of exact sub-2⁵³ products), so any engine derives the same
    * thresholds, and row inclusion is the same md5 deviate as
    * [[stratifiedBernoulli]]. Categories outside `target` are dropped;
    * a targeted category with NO rows is an error (a silently absent
    * stratum — usually a typo'd name — would skew the whole mixture).
    * The category histogram is a one-aggregate driver round-trip
    * (categories are metadata-sized); the corpus itself sees only a
    * narrow literal-threshold filter — no join, no shuffle. */
  def mixtureResample(
      df: DataFrame,
      catCol: String,
      target: Map[String, Double],
      idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(target.nonEmpty && math.abs(target.values.sum - 1.0) < 1e-9,
      s"target mixture must sum to 1, got $target")
    val perMyriad = target.map { case (k, v) => k -> math.round(v * 10000) }
      .filter(_._2 > 0)
    // compare categories as display strings so non-string category
    // columns (int source ids, …) work — target keys are strings
    val hist = df.groupBy(col(catCol).cast("string").as("cat"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = perMyriad.keySet -- hist.keySet
    require(missing.isEmpty,
      s"target categories absent from the data (typo?): ${missing.mkString(", ")}")
    val feasible = perMyriad.map { case (k, t) => hist(k) * 10000L / t }.min
    val thresholds = perMyriad.map { case (k, t) =>
      k -> math.min(10000L, feasible * t / hist(k))
    }
    val threshExpr = thresholds.foldLeft(lit(0L): Column) {
      case (acc, (k, v)) => when(col(catCol).cast("string") === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < threshExpr)
  }

  /** Temperature-flattened mixture — the α-sampling every multilingual
    * / multi-source pretraining recipe uses (exponent sampling, e.g.
    * XLM-R: Conneau et al. arXiv:1911.02116 §3.1): the kept share of
    * source s is made ∝ n_s^α, flattening the natural size distribution
    * toward uniform so huge sources stop drowning small ones. This
    * implementation pins α = 1/2 (share ∝ √n_s) so every number is
    * INTEGER arithmetic any engine replays exactly: t_s = ⌊√n_s⌋ (exact
    * — IEEE sqrt is correctly rounded and the floor of it on a sub-2⁵²
    * count is engine-independent), target kept_s = budget·t_s/Σt
    * (integer floor), per-myriad threshold = min(10⁴, kept_s·10⁴/n_s),
    * row fate the usual md5 deviate. Never upsamples (threshold caps at
    * 10⁴). 100 TB shape: one metadata-sized histogram round-trip, then
    * a narrow literal-threshold filter — no join, no shuffle. */
  def temperatureMixture(
      df: DataFrame,
      catCol: String,
      budget: Long,
      idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val hist = df.groupBy(col(catCol).cast("string").as("cat"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(hist.nonEmpty, "cannot sample an empty corpus")
    val roots = hist.map { case (k, n) => k -> math.sqrt(n.toDouble).toLong }
    val totalRoot = roots.values.sum
    val thresholds = hist.map { case (k, n) =>
      k -> math.min(10000L, budget * roots(k) / totalRoot * 10000L / n)
    }
    val threshExpr = thresholds.foldLeft(lit(0L): Column) {
      case (acc, (k, v)) => when(col(catCol).cast("string") === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < threshExpr)
  }

  /** Epoch-upsampling mixture: reach a target mixture by REPEATING
    * documents (training epochs) as well as dropping them — the form
    * every pretraining recipe actually uses (high-quality small domains
    * run for several epochs while the big web crawl runs under one).
    * Each doc in category i is emitted `base_i` times plus one extra
    * epoch for a deterministic md5-deviate fraction of ids, where
    *
    *   feasible  = min_i floor(c_i · maxEpochs · 10⁴ / t_i)   (largest
    *               total every category can supply within `maxEpochs`)
    *   needed_i  = floor(feasible · t_i / 10⁴)
    *   base_i    = needed_i / c_i,   extra-epoch per-myriad threshold
    *               = floor((needed_i mod c_i) · 10⁴ / c_i)
    *
    * All integer math (exact in any engine), row fate a pure function of
    * the id — replayable and oracle-recomputable like
    * [[mixtureResample]], which this generalizes (maxEpochs = 1 ⇒ pure
    * downsampling). Output: one row per (doc, epoch), `epoch` in
    * [0, epochs). Categories outside `target` are dropped; a targeted
    * category with no rows is an error.
    *
    * 100 TB shape: a metadata-sized histogram round-trip, then a
    * per-row literal-threshold map + explode — NO shuffle; output size
    * is bounded by maxEpochs × input. */
  def upsampleToMixture(
      df: DataFrame,
      catCol: String,
      target: Map[String, Double],
      maxEpochs: Int = 4,
      idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be ≥ 1, got $maxEpochs")
    require(target.nonEmpty && math.abs(target.values.sum - 1.0) < 1e-9,
      s"target mixture must sum to 1, got $target")
    val perMyriad = target.map { case (k, v) => k -> math.round(v * 10000) }
      .filter(_._2 > 0)
    val hist = df.groupBy(col(catCol).cast("string").as("cat"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = perMyriad.keySet -- hist.keySet
    require(missing.isEmpty,
      s"target categories absent from the data (typo?): ${missing.mkString(", ")}")
    val feasible = perMyriad.map { case (k, t) => hist(k) * maxEpochs * 10000L / t }.min
    val plan = perMyriad.map { case (k, t) =>
      val c = hist(k)
      val needed = feasible * t / 10000L
      k -> (needed / c, (needed % c) * 10000L / c) // (base epochs, extra per-myriad)
    }
    val catStr = col(catCol).cast("string")
    val baseExpr = plan.foldLeft(lit(-1L): Column) { // -1 ⇒ untargeted category
      case (acc, (k, (b, _))) => when(catStr === k, lit(b)).otherwise(acc)
    }
    val extraExpr = plan.foldLeft(lit(0L): Column) {
      case (acc, (k, (_, e))) => when(catStr === k, lit(e)).otherwise(acc)
    }
    val epochs = baseExpr +
      when(hashBucket(col(idCol), salt) < extraExpr, 1L).otherwise(0L)
    df.withColumn("epochs", epochs)
      .filter(col("epochs") > 0) // drops untargeted (-1) and zero-epoch rows
      .withColumn("epoch", explode(sequence(lit(0L), col("epochs") - 1L)))
      .drop("epochs")
  }

  /** Deterministic global training order: every row keyed by
    * md5(id ‖ salt) and range-sorted on it — a reproducible, seed-stable
    * corpus shuffle (a retry or a different engine derives the SAME
    * order, unlike `orderBy(rand())`). Distinct salts give independent
    * permutations, e.g. one per epoch. 100 TB shape: one range sort —
    * the standard sample-based range partitioning, no single-partition
    * window (a global row_number would serialize; downstream consumers
    * read the order from the sort itself). */
  def shuffleOrder(
      df: DataFrame,
      idCol: String = "doc_id",
      salt: String = ""): DataFrame =
    df.withColumn("shuffle_key",
        md5(concat(col(idCol).cast("string"), lit(salt))))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-ES
    * (IPL 97(5), 2006, public): each row draws u uniform from the
    * shared md5 deviate and ranks by key = u^(1/w); the top-M keys are
    * exactly a weight-proportional without-replacement sample. Here the
    * rank key is ln(u)/w (the same ordering), quantized to micro-nats
    * with floor and tie-broken by id, so the cut is engine-exact —
    * ln is each engine's libm, but the micro quantization plus id
    * tie-break makes a boundary flip a ~1e-10 event per row (the
    * KN-scoring precedent). Weight = any positive numeric column; the
    * canonical pipeline use is token counts (token-budget-proportional
    * document sampling: long docs proportionally likelier, short docs
    * still sampleable — unlike naive size-biased Bernoulli).
    *
    * 100 TB shape: one narrow map computing the key, then a
    * TakeOrdered top-M — never a global sort, no per-group state. */
  def weightedSample(
      df: DataFrame,
      m: Int,
      weight: Column,
      idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(m > 0, s"sample size must be positive, got $m")
    val u = (hashDeviate(col(idCol), salt).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    df.withColumn("es_key",
        floor(lit(1000000.0) * (log(u) / weight.cast("double"))).cast("long"))
      .orderBy(col("es_key").desc, col(idCol).asc)
      .limit(m)
  }

  /** Per-group document cap — the C4/RefinedWeb-style per-domain cap: a
    * handful of giant hosts must not dominate the corpus, so keep at
    * most `cap` rows per group in deterministic `order` order and drop
    * the rest. Deliberately written in the NAIVE window-rank form: under
    * [[org.apache.spark.sql.graft.TopKWindowRewrite]] (enabled by
    * `GraftSession.local`) it plans as the bounded `row_topk`
    * aggregate — per-group state is `cap` rows and each map partition
    * contributes at most `cap` rows per group to the shuffle, which is
    * the shape that survives a 100 TB corpus with a million-doc host.
    * Output keeps all input columns plus `rk` (1-based rank within the
    * group). `order` must be a total order within each group (append a
    * unique id tiebreak) or ranks are nondeterministic. */
  def capPerGroup(df: DataFrame, group: Column, order: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(group).orderBy(order)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= cap)
  }

  /** Per-group selection under a cumulative TOKEN budget: the data-
    * mixing primitive that [[capPerGroup]]'s row cap can't express —
    * "take the best documents of each source until its token quota is
    * spent". Rows are ordered inside each group by `order` (quality
    * descending in the typical mix recipe; MUST be a total order for
    * determinism — tie-break on the id), the token column accumulates
    * in that order, and a row survives iff the budget is not yet
    * exhausted BEFORE it (so the first row always survives even if it
    * alone overshoots — a quota that admits nothing is never what a
    * mix recipe means). Emits `cum_tokens` (inclusive) so the caller
    * sees each group's realized spend.
    *
    * 100 TB shape: one running-total window per group — the same
    * single-shuffle ordered-scan shape as the relational running
    * total. A group is a SOURCE (dozens to thousands), so partitions
    * are coarse but bounded; for a skewed mega-source the practical
    * recipe pre-filters by a quality floor first, which this operator
    * composes with trivially. */
  def tokenBudgetPerGroup(
      df: DataFrame,
      group: Column,
      order: Seq[Column],
      tokensCol: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    require(!df.columns.contains("cum_tokens"),
      "input already has a 'cum_tokens' column; it would be silently replaced " +
        "by the emitted running total — rename it first")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(group).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_tokens", sum(tokensCol).over(w))
      .filter(col("cum_tokens") - tokensCol < budget)
  }

  /** Leakage-safe dataset split: the split label is a pure function of
    * `group` (not the row id), so every member of a group — e.g. a
    * near-duplicate cluster from
    * [[graft.dedup.Dedup.connectedComponents]] — lands in the SAME
    * split, and eval contamination by near-dups of training docs is
    * impossible by construction. `fractions` are (label, weight) in
    * order, weights summing to 1; buckets partition [0, 10⁴) by
    * cumulative weight. Per-row, no shuffle. */
  def groupedSplit(
      group: Column,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = ""): Column = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got $fractions")
    val bucket = hashBucket(group, salt)
    val cuts = fractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * 10000)
    }.tail
    fractions.init.zip(cuts.init).reverse
      .foldLeft(lit(fractions.last._1): Column) {
        case (acc, ((label, _), cut)) => when(bucket < cut, lit(label)).otherwise(acc)
      }
  }
}
