package graft

import graft.sources.GranuleManifest

class GranuleManifestSpec extends SparkSpec {

  test("manifest sanitation drops nulls and partitions unknown keys") {
    val (good, bad) = GranuleManifest.sanitize(
      Seq(("oco3", "a"), ("oco2", "b"), ("modis", "c"), ("oco3", ""), ("oco3_sif", "d")))
    assert(good === Seq(("oco3", "a"), ("oco2", "b"), ("oco3_sif", "d")))
    assert(bad === Seq(("modis", "c")))
  }
}
