package graft.core

import scala.collection.concurrent.TrieMap

/** The user-programmable surface of the engine.
  *
  * Reference equivalents: `BaseMapper::map` + `emit` and `BaseReducer::reduce` +
  * `emit` (reference: `external/include/mr_task_factory.h:20-21,37-38`). The
  * reference's emit-callback style becomes a return value of pairs; `values` is an
  * `Iterator`, not a materialized vector, so a group larger than memory streams and
  * spills (the reference materializes all values per key in a `std::map` —
  * `src/worker.h:92-104` — and OOMs past RAM; this contract is a strict superset).
  *
  * Value-order semantics: the reference delivers values in intermediate-file read
  * order, which is already nondeterministic across runs (worker scheduling), so the
  * portable contract is "unordered values, keys sorted in output" — documented in
  * SURVEY.md §7.3.
  *
  * A task may declare [[combinable]]: its `reduce` then also runs inside each map
  * task over partial groups (the optional Combiner of the MapReduce paper, §4.3,
  * "typically the same code" as reduce), so fewer pairs cross the shuffle.
  */
trait MapReduceTask extends Serializable {
  /** One input record (line) → zero or more (key, value) pairs. */
  def map(line: String): IterableOnce[(String, String)]

  /** One distinct key + all its values → zero or more (key, value) pairs. */
  def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)]

  /** True if `reduce` may also run map-side on partial groups. Off by default. A
    * task may turn it on only when all three hold:
    *  - `reduce` is associative and commutative over its values;
    *  - its output values are valid input values to itself;
    *  - it emits only the key it was given (the runtime fails the task otherwise).
    * A sum qualifies; a mean does not.
    */
  def combinable: Boolean = false
}

/** Registry keyed by `user_id`, the Spark-side analog of the reference's
  * `TaskFactory` singleton (reference: `src/mr_task_factory.cc:47-88`). Where the
  * reference ships UDF code to workers by static-initializer linking
  * (`test/user_tasks.cc:59`), Spark ships it by closure serialization — so
  * registration is an ordinary method call and tasks are plain serializable objects.
  */
object TaskRegistry {
  private val tasks = TrieMap.empty[String, MapReduceTask]

  def register(userId: String, task: MapReduceTask): Unit = tasks.put(userId, task)

  def lookup(userId: String): Option[MapReduceTask] = tasks.get(userId)

  def apply(userId: String): MapReduceTask =
    tasks.getOrElse(userId, throw new NoSuchElementException(s"no task registered for user_id=$userId"))

  def registered: Set[String] = tasks.keySet.toSet
}
