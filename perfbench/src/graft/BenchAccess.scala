package graft

/** The J13 gate's published weight vector is package-private; the
  * streaming chain needs the same vector the batch classifier uses.
  */
object BenchAccess {
  def classifierWeights: Seq[Long] = queries.PipelineQueries.classifierWeights
}
