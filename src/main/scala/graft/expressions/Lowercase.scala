package graft.expressions

import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** The lowercasing Spark's own `lower` executes, shared by the text
  * kernels ([[LangId]], [[WordStats]], [[WordNgramTerms]],
  * [[TokenGramHashes]]) so each equals its `lower`-based composed form:
  * `CollationSupport.Lower` under `lower`'s ICU switch
  * (`spark.sql.icu.caseMappings.enabled`, on by default in Spark 4.1).
  * `UTF8String.toLowerCase` uses the JVM's case tables instead, and the
  * two disagree on 67 code points (U+2C2F, U+A7C0, U+10570-U+10595 and
  * others).
  */
object Lowercase {

  /** `lower`'s ICU switch, read as `Lower` reads it: from the active
    * SQLConf, once per expression instance (callers hold it in a lazy
    * val, as `Lower` does, and bake it into generated code).
    */
  def icu: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** `lower(s)` for a string of collation `collationId`. */
  def apply(s: UTF8String, collationId: Int, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, collationId, useICU)
}
