package graft.io

/** A per-JVM memo over immutable artifact generations. A value is keyed by
  * its artifact base (the path without its `_vN` version suffix) and a
  * generation key (resolved path, file fingerprint, …); each base keeps at
  * most its two most recent generations — the current one and the previous
  * one that in-flight readers may still hold — so a long stream of
  * republishes cannot grow the memo.
  */
private[graft] final class GenerationMemo[V] {
  // base -> (generation, value), most recent first, at most 2
  private val byBase =
    new java.util.concurrent.ConcurrentHashMap[String, List[(Any, V)]]()

  /** The memoized value of `gen` under `base`, else `compute` (run outside
    * any lock; a concurrent miss computes twice and keeps the later value).
    */
  def apply(base: String, gen: Any)(compute: => V): V =
    Option(byBase.get(base)).flatMap(_.collectFirst { case (g, v) if g == gen => v })
      .getOrElse {
        val v = compute
        byBase.compute(base, (_, cur) =>
          ((gen, v) :: Option(cur).getOrElse(Nil).filter(_._1 != gen)).take(2))
        v
      }

  /** Generations held per base. */
  def sizes: Map[String, Int] = {
    val out = Map.newBuilder[String, Int]
    byBase.forEach((b, gens) => out += b -> gens.length)
    out.result()
  }
}

private[graft] object GenerationMemo {
  /** The artifact base of a resolved path: `root/postings_v3` → `root/postings`. */
  def baseOf(resolved: String): String = resolved.replaceFirst("_v\\d+$", "")
}
