package graft

package object query {
  /** Former name of the multi-segment searcher: a [[Searcher]] takes a list
    * of segments, so `new MultiSearcher(spark, dirs)` builds the same thing.
    */
  type MultiSearcher = Searcher
}
