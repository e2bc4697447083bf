package graft.plug

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import scala.util.Try

/** Plug-details config: audit array column name + record appender. */
case class SparkPlugDetails(column: String, appender: AuditAppender)

/** Lineage-control config: `repartition(numberOfPartitions)` every
  * `rulesPerStage` rules, checkpoint every `2*rulesPerStage` rules —
  * same cadence as the reference (SparkPlug.scala:109-122). Needed for
  * 100+-rule chains where Catalyst analysis time grows with plan depth.
  * With `checkpointDir` set the checkpoint is reliable (HDFS/object-store
  * durable, survives executor loss); with None it is `localCheckpoint()` —
  * same lineage truncation without the remote write, the right default for
  * lineage control alone. */
case class SparkPlugCheckpointDetails(checkpointDir: Option[String], rulesPerStage: Int, numberOfPartitions: Int)

/** Rule-based data-override ("plugging") engine, Spark-4-native.
  *
  * Same public surface as the reference engine (reference:
  * src/main/scala/sparkplug/SparkPlug.scala) — builder, `plug`, `validate` —
  * but each rule compiles to `Column` expressions applied as ONE `withColumns`
  * projection (single Project node per rule): no temp views, no SQL string
  * concatenation, no UDFs in the default path, stable column order, and the
  * whole chain is collapsible/optimizable by Catalyst.
  *
  * Scale posture (100 TB): rules are compiled into the plan as literals —
  * there is no data-side rule join and nothing to broadcast (the reference's
  * rules "broadcast" was a driver no-op, SparkPlug.scala:43-45). The rule
  * chain is narrow (no shuffles); only opt-in repartition/checkpoint staging
  * introduces exchanges. The change count uses `Dataset.observe` so it
  * piggybacks on the caller's action instead of an extra full-scan job.
  */
case class SparkPlug(
    private val plugDetails: Option[SparkPlugDetails],
    private val isValidateRulesEnabled: Boolean,
    private val checkpointDetails: Option[SparkPlugCheckpointDetails],
    private val isAccumulatorsEnabled: Boolean,
    isKeepOldField: Boolean
)(implicit val spark: SparkSession) {

  checkpointDetails.flatMap(_.checkpointDir)
    .foreach(dir => spark.sparkContext.setCheckpointDir(dir))

  /** Observation handle attached by the most recent [[plug]] call when
    * accumulators are enabled (one fresh handle per call — an Observation
    * can only ride one Dataset). */
  @transient private var lastObservation: Option[org.apache.spark.sql.Observation] = None

  /** Changed-row count from the most recent plug's observation. Call AFTER
    * running an action on the plugged frame (the metric is collected when
    * the action completes; this blocks until then). Replaces the
    * reference's eager accumulator read (SparkPlug.scala:52-62) without its
    * extra full-scan job. */
  def changedRowCount: Option[Long] =
    lastObservation.flatMap(_.get.get(SparkPlug.changedMetric)).map(_.asInstanceOf[Long])

  /** Validate (if enabled) then fold the rules over the input frame.
    * (reference: SparkPlug.scala:29-40) */
  def plug(in: DataFrame, rules: List[PlugRule]): Either[List[PlugRuleValidationError], DataFrame] =
    validated(in, rules)(plugDf(in, rules))

  /** `run` unless validation is enabled and finds errors. */
  private def validated(in: DataFrame, rules: List[PlugRule])(
      run: => DataFrame): Either[List[PlugRuleValidationError], DataFrame] = {
    val errors = if (isValidateRulesEnabled) validate(in.schema, rules) else Nil
    if (errors.nonEmpty) Left(errors) else Right(run)
  }

  /** Duplicate-name check + static per-rule checks; the SQL dry-run only
    * runs when static validation is clean (reference: SparkPlug.scala:67-76). */
  def validate(schema: StructType, rules: List[PlugRule]): List[PlugRuleValidationError] = {
    val duplicates = rules
      .groupBy(_.name)
      .filter(_._2.size > 1)
      .keysIterator
      .map(r => PlugRuleValidationError(r, "Only one version per rule should be applied."))
      .toList
    val static = rules.flatMap(_.validate(schema))
    duplicates ++ (if (static.nonEmpty) static else rules.flatMap(r => validateRuleSql(schema, r)))
  }

  /** Dry-run a rule against an empty frame of the schema; analysis errors
    * (bad function names, unresolved columns in conditions) surface as
    * "[SQL Error] ..." (reference: SparkPlug.scala:78-86). Dataset creation
    * analyzes eagerly, so no job runs. */
  private def validateRuleSql(schema: StructType, rule: PlugRule): List[PlugRuleValidationError] =
    Try(applyRule(preProcessInput(emptyDf(schema)), rule)).failed
      .map(t => List(PlugRuleValidationError(rule.name, s"[SQL Error] ${t.getMessage}")))
      .getOrElse(Nil)

  private def emptyDf(schema: StructType) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def plugDf(in: DataFrame, rules: List[PlugRule]): DataFrame = {
    val plugged = rules.zipWithIndex.foldLeft(preProcessInput(in)) {
      case (df, (rule, ruleNumber)) =>
        repartitionAndCheckpoint(applyRule(df, rule), ruleNumber)
    }
    withChangeCount(plugged)
  }

  /** Initialize the audit column to a schema-correct empty array. The
    * reference always overwrites a pre-existing column (SparkPlug.scala:88-91)
    * — kept for parity. */
  private def preProcessInput(in: DataFrame): DataFrame =
    plugDetails.fold(in)(pd => in.withColumn(pd.column, pd.appender.emptyDetails))

  /** First-match-only variant of [[plug]]: each row takes the FIRST rule
    * whose condition matches it and is immune to every later rule — the
    * priority-list semantics rule authors often intend when overlapping
    * conditions would otherwise let a later broad rule clobber an earlier
    * specific one. Same validation, audit, keep-old and staging machinery;
    * the only change is a `__graft_matched` flag threaded through the
    * chain: each rule's hit predicate is captured against the frame state
    * that rule sees (so conditions still read earlier rules' OUTPUT,
    * exactly like the sequential fold), AND-ed with not-yet-matched, and
    * folded into the flag afterwards. All narrow projections — the chain
    * costs the same single pass as [[plug]]. */
  def plugFirstMatch(in: DataFrame, rules: List[PlugRule]): Either[List[PlugRuleValidationError], DataFrame] =
    validated(in, rules) {
      val flag = "__graft_matched"
      val hit  = "__graft_hit"
      val seeded = preProcessInput(in).withColumn(flag, lit(false))
      val plugged = rules.zipWithIndex.foldLeft(seeded) {
        case (df, (rule, ruleNumber)) =>
          val staged = repartitionAndCheckpoint(
            applyRule(
              df.withColumn(hit, expr(rule.condition) && !col(flag)),
              rule.copy(condition = hit)),
            ruleNumber)
          staged
            .withColumn(flag, col(flag) || col(hit))
            .drop(hit)
      }
      withChangeCount(plugged.drop(flag))
    }

  /** Per-rule telemetry over the SAME sequential semantics as [[plug]]:
    * for each rule, how many rows its condition matched and how many it
    * actually CHANGED (RuleCompiler's `hit` and `changed` predicates, the
    * same gate that decides the rule's plugDetails record) —
    * evaluated against the frame state that rule actually saw, i.e. after
    * every earlier rule applied. The dry-run dashboard behind rule
    * rollouts: a rule with matches but no changes is a no-op, one with
    * zero matches is dead, and a later rule's numbers shift when an
    * earlier rule rewrites its inputs — which this catches and a
    * per-rule-in-isolation count would not.
    *
    * One pass: hit/changed FLAGS are added as projections interleaved
    * with the rule projections (the chain stays narrow, no shuffle), and
    * one conditional aggregate at the end reads them all; the wide 1-row
    * result unpivots to a #rules-row frame. */
  def ruleHitStats(in: DataFrame, rules: List[PlugRule]): DataFrame = {
    var df = preProcessInput(in)
    rules.zipWithIndex.foreach { case (rule, i) =>
      val c = compileRule(df.schema, rule)
      df = df.withColumn(s"__hit_$i", c.hit)
        .withColumn(s"__chg_$i", c.changed)
        .withColumns(c.allUpdates)
    }
    val aggs = rules.indices.flatMap(i => Seq(
      sum(when(col(s"__hit_$i"), 1L).otherwise(0L)).as(s"__h_$i"),
      sum(when(col(s"__chg_$i"), 1L).otherwise(0L)).as(s"__c_$i")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rule_name"),
          coalesce(col(s"__h_$i"), lit(0L)).as("n_matched"),
          coalesce(col(s"__c_$i"), lit(0L)).as("n_changed"))
      }: _*)).as("r"))
      .select(col("r.rule_name"), col("r.n_matched"), col("r.n_changed"))
  }

  /** Canary diff between two rule sets — "what would the v2 rules change
    * vs the v1 rules on this data": both sets plug the SAME input, the
    * outputs join on the caller's row key (which MUST be unique — a
    * duplicated key cross-matches unrelated rows and inflates every
    * count), and every shared non-key
    * column reports how many rows the two outputs disagree on
    * (null-safe `<=>`, so null→value and value→null both count). The
    * release gate a rules canary runs before replacing a live set —
    * column counts localize WHAT a rewrite touches, and an all-zero
    * report proves a refactor is behavior-preserving.
    *
    * Scale: both rule chains fuse into ONE narrow projection pass over a
    * single input scan (chain A runs on the live columns, its outputs
    * stash aside, the pristine originals restore from duplicated
    * columns, chain B runs on those), feeding one conditional aggregate
    * — no join, no exchange at any data size (r14: the previous
    * key-equality self-join shuffled and sorted both sides for a
    * comparison every row can answer locally). `keyCols` must be unique
    * AND left unrewritten by both sets — the canary contract either way
    * (the old join silently dropped rows whose key a set rewrote).
    * The per-column melt explodes a 1-row frame. Validation failures
    * from either set surface unchanged. */
  def diffRuleSets(
      in: DataFrame,
      keyCols: Seq[String],
      rulesA: List[PlugRule],
      rulesB: List[PlugRule]
  ): Either[List[PlugRuleValidationError], DataFrame] =
    for {
      a <- plug(in, rulesA)
      b <- plug(in, rulesB)
    } yield {
      val compared = a.columns.toSeq.intersect(b.columns.toSeq)
        .filterNot(keyCols.contains)
        .filterNot(c => plugDetails.exists(_.column == c))
      if (compared.isEmpty) {
        // Nothing shared beyond the keys: an empty (column, n_diff)
        // frame, not a NoSuchElementException from agg(aggs.head, ...).
        val spark = in.sparkSession
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_diff",
              org.apache.spark.sql.types.LongType))))
      } else {
        // FUSED single-pass diff (r14 optimization round, guide §2.4 —
        // "remove shuffles outright"): both rule chains are pure
        // projections over the SAME input rows, so the old key-equality
        // self-join (shuffle + sort both sides at any data size) carries
        // no information the row itself doesn't already hold. Instead:
        // stash a pristine copy of every input column, run chain A, move
        // its outputs aside, restore the pristine originals, run chain B
        // on them, and aggregate the per-column disagreements row-local —
        // ONE scan, ZERO exchanges before the 1-row aggregate. Counts are
        // identical to the join formulation whenever `keyCols` is unique
        // and neither set rewrites a key column (the documented
        // contract; a rewritten key made the join version silently DROP
        // the disagreeing row, which was itself a bug-shaped edge).
        val origCols = in.columns.toSeq
        val dup = in.select(origCols.map(col) ++
          origCols.map(c => col(c).as(s"__graft_orig_$c")): _*)
        def rerun(df: DataFrame, rules: List[PlugRule]): DataFrame =
          plug(df, rules).fold(
            errs => throw new IllegalStateException(
              s"rule set re-validation failed mid-diff: ${errs.mkString("; ")}"),
            identity)
        val aFused = rerun(dup, rulesA)
        val mid = aFused.select(
          compared.map(c => col(c).as(s"__graft_a_$c")) ++
            origCols.map(c => col(s"__graft_orig_$c").as(c)): _*)
        val bFused = rerun(mid, rulesB)
        val aggs = compared.map(c =>
          sum(when(!(col(s"__graft_a_$c") <=> col(c)), 1L).otherwise(0L)).as(s"__d_$c"))
        bFused.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(compared.map(c =>
            struct(lit(c).as("column"),
              coalesce(col(s"__d_$c"), lit(0L)).as("n_diff"))): _*)).as("d"))
          .select(col("d.column"), col("d.n_diff"))
      }
    }

  /** Compile one rule with this plug's audit and keep-old settings. */
  private def compileRule(schema: StructType, rule: PlugRule): RuleCompiler.Compiled =
    RuleCompiler.compile(
      rule, schema, plugDetails.map(_.column), plugDetails.map(_.appender), isKeepOldField)

  /** Apply one rule = one projection. */
  private[plug] def applyRule(frame: DataFrame, rule: PlugRule): DataFrame =
    frame.withColumns(compileRule(frame.schema, rule).allUpdates)

  /** Changed-row count. The reference runs an extra eager full-scan job with
    * a LongAccumulator (SparkPlug.scala:52-62); we attach `Dataset.observe`
    * so the count rides on whatever action the caller runs — zero extra jobs.
    * Read it back via a QueryExecutionListener or `observedMetrics`. */
  private def withChangeCount(out: DataFrame): DataFrame =
    if (isAccumulatorsEnabled && plugDetails.nonEmpty) {
      val obs = new org.apache.spark.sql.Observation(SparkPlug.observationName)
      lastObservation = Some(obs)
      out.observe(
        obs,
        sum(when(size(col(plugDetails.get.column)) > 0, 1L).otherwise(0L)).as(SparkPlug.changedMetric))
    } else out

  private def repartitionAndCheckpoint(in: Dataset[Row], ruleNumber: Int): Dataset[Row] =
    checkpointDetails.fold(in) { cd =>
      val repartitioned =
        if ((ruleNumber + 1) % cd.rulesPerStage == 0) in.repartition(cd.numberOfPartitions) else in
      if ((ruleNumber + 1) % (2 * cd.rulesPerStage) == 0) {
        if (cd.checkpointDir.isDefined) repartitioned.checkpoint()
        else repartitioned.localCheckpoint()
      } else repartitioned
    }
}

case class SparkPlugBuilder(
    plugDetails: Option[SparkPlugDetails] = None,
    isValidateRulesEnabled: Boolean = false,
    checkpointDetails: Option[SparkPlugCheckpointDetails] = None,
    isAccumulatorsEnabled: Boolean = false,
    isKeepOldField: Boolean = false
)(implicit val spark: SparkSession) {

  def enablePlugDetails(
      plugDetailsColumn: String = SparkPlug.defaultPlugDetailsColumn,
      appender: AuditAppender = AuditAppender.default
  ): SparkPlugBuilder =
    copy(plugDetails = Some(SparkPlugDetails(plugDetailsColumn, appender)))

  def enableRulesValidation: SparkPlugBuilder = copy(isValidateRulesEnabled = true)

  /** Reliable checkpointing to `checkpointDir` (reference-parity API). */
  def enableCheckpointing(checkpointDir: String, rulesPerStage: Int, numberOfPartitions: Int): SparkPlugBuilder =
    copy(checkpointDetails = Some(SparkPlugCheckpointDetails(Some(checkpointDir), rulesPerStage, numberOfPartitions)))

  /** Lineage truncation via `localCheckpoint()` — no checkpoint dir or
    * remote write; sufficient (and faster) when staging exists only to
    * bound Catalyst plan growth on long rule chains. */
  def enableLocalCheckpointing(rulesPerStage: Int, numberOfPartitions: Int): SparkPlugBuilder =
    copy(checkpointDetails = Some(SparkPlugCheckpointDetails(None, rulesPerStage, numberOfPartitions)))

  /** Changed-row counting; auto-couples plug details like the reference
    * (SparkPlug.scala:148-149). */
  def enableAccumulators: SparkPlugBuilder =
    if (plugDetails.nonEmpty) copy(isAccumulatorsEnabled = true)
    else copy(isAccumulatorsEnabled = true).enablePlugDetails()

  def keepOldField: SparkPlugBuilder = copy(isKeepOldField = true)

  def create(): SparkPlug =
    SparkPlug(plugDetails, isValidateRulesEnabled, checkpointDetails, isAccumulatorsEnabled, isKeepOldField)
}

object SparkPlug {
  val defaultPlugDetailsColumn = "plugDetails"
  val observationName          = "sparkplug"
  val changedMetric            = "changed"

  def builder(implicit spark: SparkSession): SparkPlugBuilder = SparkPlugBuilder()
}
