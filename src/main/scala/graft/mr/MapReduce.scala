package graft.mr

import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset, SparkSession}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Spark-native re-expression of the reference's only executor,
  * `startMapReduceJob(client, inputVec, outputVec, multiThreadLevel)`
  * (SURVEY.md §3.1).
  *
  * The reference's four physical phases map onto one declarative Spark
  * plan; every piece of its hand-built machinery is replaced by a Spark
  * built-in that scales past one process:
  *
  *  - MAP (morsel-stealing worker threads)  → `Dataset.flatMap` tasks
  *  - SORT (per-thread `std::sort` by K2)   → Spark's sort-based shuffle
  *  - BARRIER (pthread barrier)             → the stage boundary at the
  *    shuffle `Exchange`
  *  - SHUFFLE (single thread 0 merging all runs — the reference's
  *    scalability bottleneck) → fully parallel hash-partitioned exchange;
  *    deliberately NOT reproduced single-threaded
  *  - REDUCE (semaphore-fed workers)        → `flatMapGroups` tasks
  *
  * Grouping semantics: the reference groups K2 by *ordering equivalence*
  * (`!(a<b) && !(b<a)`, SURVEY.md §1.2). We require an `Ordering[K2]` and
  * group by encoder equality; for any lawful Ordering (consistent with
  * equals) these coincide, and requiring the Ordering keeps the contract
  * explicit in the signature, like the reference's `operator<` mandate.
  *
  * Output is an unordered bag, exactly like the reference's
  * mutex-appended `OutputVec` (order nondeterministic, multiset
  * semantics).
  *
  * Sorting the output: a global `orderBy` on a kernel Dataset plans a
  * range exchange, and the range partitioner samples its input in a job
  * of its own. Over the bare kernel plan that sampling job re-runs the
  * whole reduce stage (shuffle fetch, key sort, `client.reduce`), and
  * the range shuffle then runs it again. `persist()` the output before
  * sorting — `out.toDF(...).persist().orderBy(...)`, then
  * `spark.catalog.clearCache()` once the result is consumed — and both
  * read the cached rows, so each key's reduce runs once. The `mr_*`
  * queries do this through `KernelQueries.sortOnce`.
  */
object MapReduce {

  /** Run a MapReduce job and return the output dataset (lazy — attach an
    * action to execute, like the reference's `waitForJob`).
    *
    * @param parallelism the reference's `multiThreadLevel`. 0 (default)
    *   keeps the input's partitioning and the session's
    *   `spark.sql.shuffle.partitions` — the right choice on a real
    *   cluster. A positive value pins the map-side width only (like
    *   `multiThreadLevel` pins worker count); reduce-side width still
    *   comes from `spark.sql.shuffle.partitions` / AQE.
    */
  def run[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    // parallelism pins the map-side width the way multiThreadLevel pins
    // worker count. The reduce-side width belongs to
    // spark.sql.shuffle.partitions + AQE (which coalesces small shuffles
    // at low SF and re-plans skew at high SF) — the harness pins it to
    // the CPU count, and at 100 TB AQE's choice beats any hardcoded one.
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    grouped(sized.flatMap { case (k1, v1) => client.map(k1, v1) })
      .flatMapGroups { (k2, pairs) =>
        client.reduce(k2, pairs.map(_._2)).iterator
      }
  }

  /** Group the mapped (K2, V2) pairs on their ENCODED key column(s)
    * rather than through `groupByKey(_._1)`. `groupByKey` plans an
    * `AppendColumns` that calls the key function on every pair and
    * re-encodes K2 into a second copy of the key column, which then
    * rides the shuffle next to `_1`. Grouping on `_1` itself does
    * neither, and groups on the same encoded values.
    *
    * A K2 that its encoder writes as top-level columns (a tuple or case
    * class) is grouped on `_1`'s fields, expanded in declaration order
    * and named after them: that is the shape the key encoder reads back,
    * and each shuffle/sort key is a flat column, as in [[runSorted]]'s
    * value sort. Any other K2 (a primitive, or an `Option` of a struct)
    * is the single column `_1`. */
  private def grouped[K2, V2](mapped: Dataset[(K2, V2)])(implicit
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2]): KeyValueGroupedDataset[K2, (K2, V2)] = {
    val key = mapped.col("_1")
    val keyCols = mapped.schema("_1").dataType match {
      case s: StructType if encoderFor(ek2).isSerializedAsStructForTopLevel =>
        s.fieldNames.toSeq.map(f => key.getField(f).as(f))
      case _ => Seq(key)
    }
    mapped.groupBy(keyCols: _*).as[K2, (K2, V2)]
  }

  /** [[run]] with a COMBINER — Hadoop's classic map-side
    * pre-aggregation contract, which the reference kernel cannot
    * express (its reduce only ever sees the full shuffled group): the
    * caller supplies an associative+commutative `combine` over V2, and
    * the kernel lowers the reduce to Spark's `reduceGroups`
    * (ReduceAggregator), whose PARTIAL aggregate runs before the
    * exchange — each map partition ships one combined value per key
    * instead of every intermediate pair, the map-side-combine shape
    * that makes high-cardinality-key aggregation survive 100 TB.
    *
    * Contract (the Hadoop combiner law): for every key,
    * `client.reduce(k, vs)` must equal
    * `client.reduce(k, Iterator(vs.reduce(combine)))` — i.e. the
    * reduce must be algebraic in `combine`. The client's reduce runs
    * once per key on the single combined value, so emission shape
    * (0..N outputs, K3/V3 mapping) stays fully client-controlled. */
  def runCombined[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      combine: (V2, V2) => V2,
      parallelism: Int = 0)(implicit
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      ev2: Encoder[V2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    grouped(sized.flatMap { case (k1, v1) => client.map(k1, v1) })
      .mapValues(_._2)
      .reduceGroups(combine)
      .flatMap { case (k2, v2) =>
        client.reduce(k2, Iterator.single(v2)).iterator
      }
  }

  /** [[run]] with SECONDARY SORT: reduce sees each group's values in
    * ascending V2 order, streamed in O(1) memory per group — the
    * classic MapReduce pattern the reference's kernel cannot express
    * (its R3 sort orders by K2 only, so an order-sensitive reduce —
    * sequence reconstruction, sessionization, time-series folds — must
    * buffer + sort the whole group in user code: O(group) memory, the
    * thing that dies on a hot key). Here the value order RIDES THE
    * SHUFFLE'S OWN SORT MACHINERY (`flatMapSortedGroups` plans one
    * Exchange + one SortExec over (key, value), exactly the sort the
    * sort-based shuffle already does for grouping) — no second shuffle,
    * no per-group buffer.
    *
    * Order contract (the V2 analogue of `run`'s K2 note): values
    * arrive in Spark's ascending order of V2's ENCODED form — for
    * primitives the natural order, for case classes / tuples the
    * lexicographic order of their encoder fields. A client whose
    * desired order is not a field prefix of V2 reshapes V2 so it is
    * (the same discipline MapReduce-era secondary sort imposed via
    * composite keys). */
  def runSorted[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    val mapped = sized.flatMap { case (k1, v1) => client.map(k1, v1) }
    // "_2" is the VALUE side of the grouped (K2, V2) pair. For a
    // struct-encoded V2 (tuples/case classes), sort on its fields
    // EXPANDED in declaration order rather than on the struct column:
    // identical lexicographic order (the documented V2 contract), but
    // each sort key is a flat column, so SortExec compares
    // field-by-field directly instead of through the interpreted
    // struct ordering (measured neutral at fixture scale — the win is
    // wider rows/deeper structs, where the struct comparator's
    // per-comparison allocation shows). Scalar V2 sorts on the column
    // itself. NULL handling is identical for the non-null V2 values a
    // typed client emits.
    // The sort columns are resolved against `mapped` itself: an
    // expanded struct K2 adds grouping columns named after its fields
    // (a tuple key adds its own `_1` and `_2`), so a by-name `_2` could
    // be ambiguous.
    val value = mapped.col("_2")
    val sortCols = mapped.schema("_2").dataType match {
      case s: StructType => s.fieldNames.toSeq.map(value.getField)
      case _ => Seq(value)
    }
    grouped(mapped)
      .flatMapSortedGroups(sortCols: _*) {
        (k2, pairs) => client.reduce(k2, pairs.map(_._2)).iterator
      }
  }

  /** Async launch — parity with `startMapReduceJob` returning an opaque
    * handle immediately while threads run (SURVEY.md §3.1/§3.3). The
    * returned [[JobHandle]] supports `getJobState` (via a registered
    * [[JobProgress]] listener), `waitForJob`, and `close`. */
  def startJob[K1, V1, K2, V2, K3, V3](
      spark: SparkSession,
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): JobHandle[(K3, V3)] = {
    // Job-group scoping: the listener bus is context-wide, so the
    // progress listener filters to this group id — concurrent jobs on
    // the same session no longer interleave into one Snap.
    val groupId = s"graft-mr-${java.util.UUID.randomUUID()}"
    val progress = new JobProgress(groupId)
    spark.sparkContext.addSparkListener(progress)
    val ds = run(input, client, parallelism)
    val fut = Future {
      // Job groups are thread-local; set it on the thread that runs the
      // action so every physical job (incl. AQE sub-jobs) carries it.
      spark.sparkContext.setJobGroup(groupId, "graft MapReduce job")
      try ds.collect().toSeq
      finally spark.sparkContext.clearJobGroup()
    }(ExecutionContext.global)
    new JobHandle(spark, progress, fut)
  }
}

/** Parity facade for the reference's `JobHandle` + `getJobState` +
  * `waitForJob` + `closeJobHandle` (SURVEY.md §2.1 R8–R11). */
final class JobHandle[OUT] private[mr] (
    spark: SparkSession,
    progress: JobProgress,
    result: Future[Seq[OUT]]) {

  /** `getJobState` — stage + percentage from the listener. */
  def getJobState: JobState = progress.state

  /** `waitForJob` — blocks until done; idempotent like the reference's
    * single-join guard. Forces the terminal listener state: bus delivery
    * is async, so without this a `getJobState` immediately after could
    * still see a mid-run snapshot. */
  def waitForJob(): Seq[OUT] = {
    val out = Await.result(result, Duration.Inf)
    progress.finish()
    out
  }

  /** `closeJobHandle` — wait, then detach the listener. The listener is
    * detached even when the job failed (waitForJob rethrows the job's
    * exception), otherwise every failed startJob would leak a listener
    * on the context bus for the life of the session. */
  def close(): Unit =
    try waitForJob()
    finally spark.sparkContext.removeSparkListener(progress)
}
