package graft.core

/** Python dict update as a fold over a Vector of pairs: replace in place when
  * the key exists, else append. Each update scans the row built so far, so a
  * row costs O(width²). [[RowBuilder]] builds rows in linear time instead;
  * this is the reference it is checked against.
  */
object DictFold {
  def dictUpdate(cols: Vector[(String, Cell)], key: String, value: Cell): Vector[(String, Cell)] = {
    val idx = cols.indexWhere(_._1 == key)
    if (idx >= 0) cols.updated(idx, (key, value)) else cols :+ ((key, value))
  }
}
