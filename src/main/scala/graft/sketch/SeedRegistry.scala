package graft.sketch

import scala.collection.mutable

/** Assigns one shared ColumnSeeds instance per join equivalence class.
  *
  * The reference forces the SAME (CW2B, EH3) seed pair transitively onto
  * both sides of every join predicate — `a.x = b.y` and `b.y = c.z` must all
  * hash with identical seeds or the cross-sketch products are meaningless
  * (reference: mapd-core/QueryEngine/FilterPushDownSketch.cpp:1280-1373
  * `addPredicate`/`generateSeeds`; seed templates persisted in
  * mapd-core/QueryEngine/Sketch/sketch_templates_seeds.txt).
  *
  * Implemented as union-find over (table, column) keys; seeds are generated
  * deterministically from the class representative so repeated runs (and the
  * template cache) agree.
  */
final class SeedRegistry(val rows: Int,
    val baseSeed: Long = SeedRegistry.DefaultSeedBase) extends Serializable {
  type Key = (String, String) // (table name, column name)

  private val keyOrdering: Ordering[Key] =
    Ordering.Tuple2(Ordering.String, Ordering.String)

  private val parent = mutable.Map.empty[Key, Key]
  private val seedCache = mutable.Map.empty[Key, ColumnSeeds]

  private def find(k: Key): Key = {
    val p = parent.getOrElseUpdate(k, k)
    if (p == k) k
    else {
      val root = find(p)
      parent(k) = root
      root
    }
  }

  /** Record the equi-join predicate `lhs = rhs`: unify their seed classes. */
  def addPredicate(lhs: Key, rhs: Key): Unit = {
    val rl = find(lhs); val rr = find(rhs)
    if (rl != rr) {
      // Deterministic representative: lexicographically smaller key wins,
      // so seed identity is independent of predicate order.
      if (keyOrdering.lteq(rl, rr)) parent(rr) = rl
      else parent(rl) = rr
      seedCache.clear() // representatives may have changed
    }
  }

  /** Seeds for a column — identical across its whole equivalence class. */
  def seedsFor(key: Key): ColumnSeeds = {
    val root = find(key)
    seedCache.getOrElseUpdate(root, {
      val h = (root._1 + "." + root._2).hashCode.toLong & 0xFFFFFFFFL
      ColumnSeeds.deterministic(rows, baseSeed ^ (h * 0x9E3779B97F4A7C15L))
    })
  }

  def sameClass(a: Key, b: Key): Boolean = find(a) == find(b)

  /** Stable identifier of a key's equivalence class (its representative) —
    * part of the template-cache key: a cached sketch is only reusable if it
    * was built with the same seed class.
    */
  def classKey(key: Key): String = {
    val r = find(key)
    s"${r._1}.${r._2}"
  }

  /** All distinct equivalence-class representatives seen so far. */
  def classes: Set[Key] = parent.keys.map(find).toSet
}

object SeedRegistry {
  /** The shipping seed base. Template-cache keys carry seed CLASS names,
    * not seed values, so a different base must not share an on-disk
    * template cache built under this one.
    */
  val DefaultSeedBase: Long = 0x5EEDC0DEL
}
