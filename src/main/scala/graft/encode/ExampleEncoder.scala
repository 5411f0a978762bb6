package graft.encode

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Row → payload-bytes contract — the Spark shape of the reference's
  * `_Converter` ABC (`feast_component/converters.py:8-35`): one concrete
  * implementation per payload format, executed inside `mapPartitions`
  * (opaque bytes gain nothing from Catalyst columns).
  */
trait ExampleEncoder extends Serializable {
  /** The writer for `schema`, compiled once — field order, serialized
    * keys and one value writer per column type are fixed here — and
    * reused for every row of a partition (one writer per thread).
    * Duplicate column names fail here; a column type with no
    * tf.train.Feature representation fails on its first non-NULL
    * value. */
  def compile(schema: StructType): Row => Array[Byte]

  /** One row, through a writer compiled for this call alone. */
  final def encode(schema: StructType, row: Row): Array[Byte] = compile(schema)(row)
}

object ExampleEncoder {
  /** Two columns of one name would serialize as one feature key (the
    * last silently winning); Feast refuses such collisions too. */
  def requireDistinctNames(schema: StructType): Unit = {
    val dups = schema.fieldNames.groupBy(identity).collect {
      case (name, occurrences) if occurrences.length > 1 => name
    }.toSeq.sorted
    require(dups.isEmpty,
      s"duplicate column names ${dups.mkString("'", "', '", "'")}: each would be " +
        "ONE tf.train.Feature key; rename or drop the duplicates before encoding " +
        "(a feature named like an entity column needs fullFeatureNames = true)")
  }
}

/** Row → serialized `tf.train.Example`, with the reference's type
  * mapping (`converters.py:50-53` via tfx `row_to_example`; table in
  * SURVEY.md §1.2 and at [[ValueWriter]]): array<primitive> columns
  * flatten into their Feature's value list, NULL → feature present but
  * empty (key kept), NULL array elements drop, keys sort by name.
  */
object TfExampleEncoder extends ExampleEncoder {
  def compile(schema: StructType): Row => Array[Byte] = new ExampleWriter(schema).write
}

/** Row → serialized `tf.train.SequenceExample`. The reference declares
  * this format but never implemented it (`converters.py:55-57` raises;
  * dispatch at `executor.py:148-149`) — here it is for real:
  *
  *   - scalar columns               → context features (same §1.2 mapping)
  *   - array<primitive> columns     → a FeatureList with ONE single-value
  *                                    Feature per element (each element
  *                                    is a sequence step)
  *   - array<array<primitive>>      → a FeatureList with one multi-value
  *                                    Feature per inner array
  *   - NULL                         → empty context feature / empty list
  */
object TfSequenceExampleEncoder extends ExampleEncoder {
  def compile(schema: StructType): Row => Array[Byte] = new SequenceExampleWriter(schema).write
}
