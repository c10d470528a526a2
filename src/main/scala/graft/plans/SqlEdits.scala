package graft.plans

/** The ONE edit-application algorithm behind every injected-grammar
  * rewriter (ASOF / QUALIFY / DISTINCT ON / star modifiers):
  * positional splices applied right-to-left so earlier positions
  * stay valid.
  *
  * Ordering contract, load-bearing: at EQUAL positions, deletions
  * apply before insertions. Two adjacent rewrites can collide at a
  * boundary — a chained `ASOF JOIN b ON ... ASOF JOIN c ON ...`
  * puts the first join's close-paren INSERT at exactly the second
  * join's keyword-DELETE position — and a stable pos-only sort
  * applied the insert first, letting the delete consume the
  * inserted text plus half the keyword (a corrupted query). Delete-
  * then-insert makes boundary collisions compose: the deletion
  * removes original text, the insertion then lands in front of what
  * remains. (Before this helper existed the same apply loop was
  * pasted in five rewriters, each carrying the same latent bug.)
  */
private[plans] object SqlEdits {

  final case class Edit(pos: Int, del: Int, ins: String)

  def apply(sql: String, es: Seq[Edit]): String =
    if (es.isEmpty) sql
    else {
      val sb = new StringBuilder(sql)
      es.sortBy(e => (-e.pos, if (e.del > 0) 0 else 1)).foreach(ed =>
        sb.replace(ed.pos, ed.pos + ed.del, ed.ins))
      sb.toString
    }
}
