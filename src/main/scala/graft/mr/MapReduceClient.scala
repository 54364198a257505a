package graft.mr

/** The user-facing client contract of the reference framework
  * (`MapReduceClient.h`: pure-virtual `map(k1, v1, ctx)` /
  * `reduce(pairs, ctx)` — see SURVEY.md §1.1, §2.1 R1/R6).
  *
  * Differences from the C++ surface, chosen deliberately for Spark:
  *
  *  - `emit2`/`emit3` side-effect collectors are replaced by returned
  *    collections — the reference's "call emit 0..N times" is exactly an
  *    `IterableOnce` result, and it keeps the client a pure function that
  *    Spark can serialize to executors.
  *  - `reduce` receives an `Iterator[V2]` rather than a materialized
  *    vector. The reference hands the reducer the *complete* value list of
  *    one key (`IntermediateVec*`); an iterator is the scale-safe
  *    generalization — a client that needs the full list can `.toSeq` it,
  *    but a 100 TB group never has to fit in memory.
  *
  * Both `map` and `reduce` are *flat* (0..N outputs per call), matching
  * the reference exactly — this is flatMap + group by key +
  * flatMapGroups, NOT map + reduceByKey (SURVEY.md §2.1 "semantics worth
  * tattooing").
  */
trait MapReduceClient[K1, V1, K2, V2, K3, V3] extends Serializable {

  /** Phase 1: invoked once per input pair; may produce 0..N intermediate
    * pairs (the reference's `map` + `emit2`). */
  def map(key: K1, value: V1): IterableOnce[(K2, V2)]

  /** Phase 4: invoked once per distinct intermediate key with ALL of that
    * key's values; may produce 0..N output pairs (`reduce` + `emit3`). */
  def reduce(key: K2, values: Iterator[V2]): IterableOnce[(K3, V3)]
}
