package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSpec {

  // every SQL function the library ships; the extension hook and
  // VectorExpressions.register must both install all of them
  private val names = Seq(
    "graft_cosine", "graft_dot", "graft_l2", "graft_int8_dot",
    "graft_int8_encode", "graft_shingle_hashes", "graft_simhash64",
    "graft_minhash", "graft_shingle_hashes_md5", "graft_simhash60",
    "graft_minhash_grid", "graft_cms_estimate", "graft_hilbert",
    "graft_hist_quantile")

  test("spark.sql.extensions path resolves every graft SQL function") {
    // a fresh session (over the running context) built only through
    // the extension hook, with no VectorExpressions.register call; the
    // shared session is restored as default/active afterwards
    val ext = try SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(names.size === 14)
    val missing = names.filterNot(n => ext.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    val row = ext.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)), " +
        "graft_int8_dot(graft_int8_encode(array(1.0F, -1.0F))._c8, " +
        "graft_int8_encode(array(1.0F, -1.0F))._c8), " +
        "graft_hilbert(3L, 5L)").head()
    assert(row.getDouble(0) === 11.0)
    assert(!row.isNullAt(1))
    assert(!row.isNullAt(2))
  }
}
