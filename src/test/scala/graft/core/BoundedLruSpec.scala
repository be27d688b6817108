package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The bounded LRU behind the point-read caches: least recently used
  * entries leave first once the summed weight passes the capacity, every
  * entry that leaves reaches the callback, and the weight stays exact
  * (what is evicted, and when, shows the running total).
  */
class BoundedLruSpec extends AnyFunSuite {

  private def lru(capacity: Long) = {
    val gone = ArrayBuffer[(String, String)]()
    val m = new BoundedLru[String, String](capacity, _.length.toLong, (k, v) => gone += (k -> v))
    (m, gone)
  }

  test("evicts least recently used first, by weight, through the callback") {
    val (m, gone) = lru(10)
    assert(m.putIfAbsent("a", "aaa") == "aaa")
    m.putIfAbsent("b", "bbb")
    m.putIfAbsent("c", "ccc")
    m.putIfAbsent("z", "z") // 10: at the bound, nothing goes
    assert(gone.isEmpty)
    assert(m.get("a") == "aaa") // a is now the most recent
    m.putIfAbsent("d", "d") // 11 > 10: b, the least recent, goes
    assert(gone.toSeq == Seq("b" -> "bbb"))
    m.putIfAbsent("e", "eeeeeee") // 15 > 10: c, z, then a
    assert(gone.toSeq == Seq("b" -> "bbb", "c" -> "ccc", "z" -> "z", "a" -> "aaa"))
    assert(Seq("a", "b", "c", "z").forall(m.get(_) == null))
    assert(m.get("d") == "d" && m.get("e") == "eeeeeee")
    m.putIfAbsent("f", "ff") // 10: nothing goes
    assert(gone.size == 4)
  }

  test("an existing value wins; a value above the capacity is never stored") {
    val (m, gone) = lru(4)
    m.putIfAbsent("k", "one")
    assert(m.putIfAbsent("k", "two") == "one")
    assert(m.putIfAbsent("big", "fivee") == "fivee")
    assert(m.get("big") == null && m.get("k") == "one" && gone.isEmpty)
    m.putIfAbsent("x", "x") // 4: the refused values weighed nothing
    assert(gone.isEmpty)
  }

  test("put replaces a value outside the callback and reweighs it") {
    val (m, gone) = lru(6)
    m.putIfAbsent("k", "k")
    m.putIfAbsent("j", "jj")
    assert(m.put("k", "kkkk") == "kkkk" && m.get("k") == "kkkk" && gone.isEmpty) // 6
    m.putIfAbsent("i", "i") // 7 > 6: j, the least recent, goes
    assert(gone.toSeq == Seq("j" -> "jj"))
    assert(m.put("k", "seven77") == "seven77" && m.get("k") == "kkkk") // above the capacity: kept out
  }

  test("removeWhere and clear hand every dropped entry to the callback") {
    val (m, gone) = lru(6)
    Seq("x1" -> "1", "y1" -> "22", "x2" -> "333").foreach { case (k, v) => m.putIfAbsent(k, v) }
    m.removeWhere((k, _) => k.startsWith("x"))
    assert(gone.toSet == Set("x1" -> "1", "x2" -> "333"))
    assert(m.get("x1") == null && m.get("y1") == "22")
    m.putIfAbsent("w", "wwww") // 6: the removed weight is gone from the total
    assert(gone.size == 2)
    m.clear()
    assert(gone.size == 4 && gone.drop(2).toSet == Set("y1" -> "22", "w" -> "wwww"))
    assert(m.get("y1") == null && m.get("w") == null)
    m.putIfAbsent("v", "vvvvvv") // 6 after clear: nothing goes
    assert(gone.size == 4)
  }
}
