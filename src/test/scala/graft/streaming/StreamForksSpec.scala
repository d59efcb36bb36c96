package graft.streaming

import graft.{Registry, SparkSpec}

/** Every stream starts through [[Streams.start]], so its checkpoint,
  * state store and sink commit through [[graft.sources.LocalFs]] like the
  * collector's (FlowCollectorSpec), and the caller's session keeps none of
  * the install.
  */
class StreamForksSpec extends SparkSpec {

  test("a state-store drain and a cadence stream commit without forking") {
    val queries = Seq("q52d_stream_dedup_ingest", "q52t_stream_heavy_hitters")
    val (rows, forks) = HadoopForks.during {
      queries.map(q => Registry.queries(q)(spark, sf).count())
    }
    assert(rows.forall(_ > 0), queries.zip(rows))
    // q52t stages its six arrival files with a batch write that passes
    // the LocalFs keys as writer options: the whole run forks nothing
    assert(forks.isEmpty, s"${forks.size} forks, e.g.\n${forks.take(3).mkString("\n")}")
    Streams.LocalFsKeys.foreach { case (k, _) => assert(spark.conf.getOption(k).isEmpty, k) }
  }
}
