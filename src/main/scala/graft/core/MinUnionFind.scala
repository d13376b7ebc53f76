package graft.core

/** In-memory union-find over `Long` ids in which the smaller id is
  * always the root, so `find(x)` is the minimum id of x's component: the
  * min-label that distributed label propagation converges to. Used on
  * bounded edge lists (see [[Bounded]]); an id never unioned is its own
  * root. */
final class MinUnionFind {
  private val parent = scala.collection.mutable.Map.empty[Long, Long]

  /** The root of `x`, pointing every id on the walked path at it. */
  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val next = parent(c); parent(c) = r; c = next }
    r
  }

  /** Merges the components of `a` and `b` under the smaller root; false
    * when they already were one component. */
  def union(a: Long, b: Long): Boolean = {
    val (ra, rb) = (find(a), find(b))
    if (ra == rb) false
    else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
  }
}
