package graft.core

import java.util.Locale

/** The one facet-value normalization, shared by the index and the filter
  * (milli's `normalize_facet`): the string stored as `norm` in
  * `doc_facet_strings` and the filter operand it is compared with. */
object Facets {
  /** `s` without leading and trailing characters ≤ U+0020, lower-cased
    * under the root locale (never the JVM's default, which would turn a
    * Turkish `I` into a dotless `ı`). */
  def normalizeFacet(s: String): String = s.trim.toLowerCase(Locale.ROOT)
}
