package graft.text

/** One view of a text for the [[Py.Rx]] scans: the text, its
  * [[Py.foldCase]] (computed at most once, on first use), and sub-views cut
  * like [[Py.slice]]. A sub-view's fold is its root's fold cut at the same
  * offsets, so every view of one document shares the one fold, and a fold
  * always belongs to the text it comes with.
  *
  * A cut through a surrogate pair leaves its half folded as the pair folds,
  * where `foldCase` of the cut text would keep the lone half as it is. No
  * guard or anchor literal holds a surrogate, so the scans agree either way
  * (AnchoredScanSpec scans through such cuts). */
final class Scan private (val text: String, root: Scan, offset: Int) {

  lazy val folded: String =
    if (root == null) Py.foldCase(text) else root.folded.substring(offset, offset + text.length)

  /** `text[from:until]`, clamped, negative bounds counting from the end. */
  def slice(from: Int, until: Int): Scan = {
    val n = text.length
    val a = Py.sliceIndex(from, n)
    val b = math.max(a, Py.sliceIndex(until, n))
    if (a == 0 && b == n) this
    else new Scan(text.substring(a, b), if (root == null) this else root, offset + a)
  }

  /** `text[:n]`. */
  def window(n: Int): Scan = slice(0, n)
}

object Scan {
  def apply(text: String): Scan = new Scan(text, null, 0)
}
