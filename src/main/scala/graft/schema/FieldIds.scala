package graft.schema

import org.apache.spark.sql.types._

/** Stable column identity for the lake schema — the Iceberg
  * schema-evolution model (field ids survive renames; names are display
  * metadata) adapted to graft's name-keyed parquet files.
  *
  * Iceberg can resolve a renamed column inside OLD data files because it
  * embeds the field id in every parquet file it writes and resolves reads
  * by id. Graft's committed files are plain name-keyed parquet (readable
  * by any engine, no ids embedded), so the id→name mapping must live in
  * the MANIFEST instead: each field carries
  *
  *   - `graft.id`      — the stable identity, assigned once at the
  *     field's first commit and never reused; a RENAME keeps the id.
  *   - `graft.aliases` — the field's former names, newest first: the
  *     name ERAS under which committed files may store this column.
  *
  * Both ride in [[StructField.metadata]], which round-trips through the
  * snapshot's `schema.json` untouched. Readers resolve a column against a
  * file by trying the current name, then each alias — a file can contain
  * at most one of them, because a name, once used by a field, is reserved
  * against reuse forever (see the alias guards in SchemaRegistry.evolve
  * and GraftCatalog.alterTable). Old snapshots keep their era's schema,
  * so time travel across a rename shows each era under its own name.
  *
  * The reference's tolerant reader (src/places/place_index.rs:359-370)
  * covers only column ABSENCE; this graduates the same one-sided
  * tolerance to renames without touching committed data.
  */
object FieldIds {
  val IdKey = "graft.id"
  val AliasKey = "graft.aliases"

  def id(f: StructField): Option[Long] =
    if (f.metadata.contains(IdKey)) Some(f.metadata.getLong(IdKey)) else None

  /** Former names, newest first. */
  def aliases(f: StructField): Seq[String] =
    if (f.metadata.contains(AliasKey)) f.metadata.getStringArray(AliasKey).toSeq
    else Seq.empty

  def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putLong(IdKey, id).build())

  /** Rename, recording the old name as the newest alias. Renaming BACK to
    * a former name drops it from the alias list (the current name must
    * never also appear as an alias — readers would project the column
    * twice). */
  def rename(f: StructField, newName: String): StructField = {
    val newAliases = (f.name +: aliases(f)).filterNot(_ == newName).distinct
    val mb = new MetadataBuilder().withMetadata(f.metadata)
    if (newAliases.nonEmpty) mb.putStringArray(AliasKey, newAliases.toArray)
    else mb.remove(AliasKey)
    f.copy(name = newName, metadata = mb.build())
  }

  /** Give every id-less field the next free id (first-commit assignment;
    * fields that already carry one keep it — ids are never reassigned).
    * Applied at the snapshot-commit choke point, so every committed
    * schema carries full identity without each writer minting ids.
    * `skip` names get NO id: the engine's reserved tombstone column is
    * re-appended as a fresh StructField by several writers whose
    * schema-changed checks compare StructTypes — an id on it would make
    * every commit look like an evolution (and it can never be renamed,
    * so it needs no identity). */
  def assignIds(schema: StructType, skip: Set[String] = Set.empty): StructType = {
    if (schema == null ||
      schema.fields.forall(f => id(f).isDefined || skip(f.name))) return schema
    var next = schema.fields.flatMap(id(_)).foldLeft(0L)(math.max) + 1
    StructType(schema.fields.map { f =>
      if (id(f).isDefined || skip(f.name)) f
      else { val g = withId(f, next); next += 1; g }
    })
  }

  /** Every name this schema has EVER used (live + aliases) — the
    * reservation set new column names must not collide with. */
  def allNames(schema: StructType): Set[String] =
    schema.fields.flatMap(f => f.name +: aliases(f)).toSet

  /** current name → former names, only for fields that have any. */
  def aliasMap(schema: StructType): Map[String, Seq[String]] =
    schema.fields.iterator.filter(f => aliases(f).nonEmpty)
      .map(f => f.name -> aliases(f)).toMap

  /** The name a file stores `column` under: the column's own name when the
    * file holds it, else the first of its other names (`eras`, e.g.
    * [[aliasMap]]) the file holds — a file holds at most one of a field's
    * names. A column the file holds under none keeps its own name and
    * reads as null (the tolerant reader). */
  def storedName(column: String, eras: Map[String, Seq[String]],
                 fileHolds: String => Boolean): String =
    if (fileHolds(column)) column
    else eras.getOrElse(column, Nil).find(fileHolds).getOrElse(column)

  /** Eras for a reader whose column names are pinned to `pinned` (a
    * stream's schema at its start) while it reads files up to `end`: each
    * pinned column → every other name its field id carries in `end`
    * (current, then former). Id-less fields keep their own aliases. A
    * pinned id missing from `end` fails loudly — reading on would emit
    * nulls where the files hold values. */
  def pinnedAliases(pinned: StructType, end: StructType): Map[String, Seq[String]] = {
    val byId = end.fields.flatMap(f => id(f).map(_ -> f)).toMap
    pinned.fields.iterator.map { f =>
      val names = id(f) match {
        case Some(i) =>
          val now = byId.getOrElse(i, throw new IllegalStateException(
            s"column ${f.name} (field id $i) is missing from the schema being read; " +
              "the stream cannot resolve it"))
          now.name +: aliases(now)
        case None => aliases(f)
      }
      f.name -> names.filterNot(_ == f.name)
    }.filter(_._2.nonEmpty).toMap
  }
}
