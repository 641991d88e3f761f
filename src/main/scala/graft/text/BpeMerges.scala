package graft.text

/** GENERATED by graft.GenBpeMerges — do not edit by hand.
  *
  * 40 BPE merges trained on the /root/testdata/sf0.01 documents
  * vocabulary (top 10000 lowercased whitespace
  * words by frequency; highest-count pair first, ties to the
  * lexicographically smallest pair). Frozen as literals so the
  * Spark tokenizer and the interpolated DuckDB oracle replay the
  * SAME table — the SemanticCentroids frozen-constant technique.
  */
object BpeMerges {
  val values: Array[(String, String)] = Array(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("c", "u"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("cu", "st"),
    ("cust", "o"),
    ("custo", "mer"),
    ("f", "i"),
    ("fi", "l"),
    ("fil", "t"),
    ("filt", "er"),
    ("a", "l"),
    ("al", "l"),
    ("m", "all"),
    ("s", "mall"),
    ("g", "e"),
    ("l", "ow")
  )
}
