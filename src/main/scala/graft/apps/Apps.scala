package graft.apps

import graft.engine.MapReduce.{CombinableReduce, MapF, ReduceF}

/** The reference's eight application plugins (SURVEY.md §2.2), minus
  * the four fault/parallelism probes whose observable property is a
  * scheduler guarantee (covered by the chaos/determinism specs, §5.4)
  * rather than a data transformation.
  */
object Apps {

  /** Go `unicode.IsLetter` tokenizer parity: split contents on runs of
    * non-letters (Unicode category L), drop empties — no lowercasing.
    * Reference: /root/reference/src/mrapps/wc.go:21-24,
    * src/mrapps/indexer.go:22.
    */
  def tokenize(contents: String): Iterator[String] = {
    val it = new Iterator[String] {
      private val n = contents.length
      private var i = 0
      private var nextTok: String = null
      private def advance(): Unit = {
        nextTok = null
        while (i < n && !Character.isLetter(contents.charAt(i))) i += 1
        if (i < n) {
          val start = i
          while (i < n && Character.isLetter(contents.charAt(i))) i += 1
          nextTok = contents.substring(start, i)
        }
      }
      advance()
      def hasNext: Boolean = nextTok != null
      def next(): String = { val t = nextTok; advance(); t }
    }
    it
  }

  /** wc: word count (the reference's mrapps/wc.go:19-40). The reduce
    * sums counts rather than counting values (the reference's
    * `len(values)`, wc.go:37): the map emits only "1", so the two agree,
    * and a sum obeys the combiner law, so map tasks pre-sum their own
    * tokens before the shuffle.
    */
  object WordCount {
    val map: MapF = (_, contents) => tokenize(contents).map(w => (w, "1"))
    val reduce: CombinableReduce = (_, values) => {
      var n = 0L
      values.foreach(v => n += v.toLong)
      n.toString
    }
  }

  /** indexer: inverted index (/root/reference/src/mrapps/indexer.go:20-39):
    * per-document distinct words; reduce emits "<n> <doc1,doc2,...>"
    * with the doc list sorted and comma-joined. Not combinable: its
    * output "<n> <docs>" is not a document name, so it is no valid input
    * to itself.
    */
  object InvertedIndex {
    val map: MapF = (file, contents) =>
      tokenize(contents).toSet.iterator.map((w: String) => (w, file))
    val reduce: ReduceF = (_, values) => {
      val docs = values.toArray.sorted
      s"${docs.length} ${docs.mkString(",")}"
    }
  }

  /** crash/nocrash data semantics (/root/reference/src/mrapps/crash.go:34-55):
    * four fixed keys per file; reduce = sorted values space-joined (the
    * deterministic multiset aggregation). Fault injection itself is
    * exercised by the chaos spec, not baked into the app. Not
    * combinable: a space-joined partial would be sorted as one value.
    */
  object SortedMultisetAgg {
    val map: MapF = (file, contents) => Iterator(
      ("a", file),
      ("b", file.length.toString),
      ("c", contents.length.toString),
      ("d", "xyzzy"))
    val reduce: ReduceF = (_, values) => values.toArray.sorted.mkString(" ")
  }

  /** early_exit data semantics (/root/reference/src/mrapps/early_exit.go:19-36):
    * one ("file","1") per input file; reduce counts. Each key occurs
    * once per map task, so a combiner would have nothing to fold.
    */
  object FileCount {
    val map: MapF = (file, _) => Iterator((file, "1"))
    val reduce: ReduceF = (_, values) => values.size.toString
  }
}
