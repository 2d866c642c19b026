package graft

import scala.collection.mutable

/** Union-find reference for [[graft.operators.Dedup.connectedComponents]]:
  * the same answer — each id of a pair list labelled with the smallest id
  * of its connected component — by a different route, a sequential
  * union-by-minimum over the collected pairs. */
object ComponentsReference {

  def labels[A](pairs: Seq[(A, A)])(implicit ord: Ordering[A]): Map[A, A] = {
    val parent = mutable.HashMap.empty[A, A]
    def find(a: A): A = {
      val p = parent.getOrElseUpdate(a, a)
      if (p == a) a
      else { val root = find(p); parent(a) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(a => a -> find(a)).toMap
  }
}
