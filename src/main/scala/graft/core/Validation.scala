package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-row validation / type coercion against a registered schema, with
  * quarantine routing for rows that don't coerce.
  *
  * Reference: colander deserialize (moisturizer/schemas.py:31-76) — per-field
  * coercion (string→timestamp ISO-8601, string/num→number, `id` stringified),
  * invalid field ⇒ the whole row is rejected (consumer.py:78-83 captures the
  * exception and moves on — dead-letter semantics, never crash).
  *
  * Spark-native shape: `try_cast` every field to its registered type; a row is
  * quarantined iff some field was non-null before the cast and null after —
  * i.e. the value existed but would not coerce. This keeps the whole check
  * inside whole-stage codegen (no UDFs) and is oracle-expressible in ANSI SQL
  * (`TRY_CAST`).
  */
object Validation {

  /** try_cast a column to `dt` (null on failure rather than ANSI error). */
  def tryCastTo(c: Column, dt: DataType): Column = c.try_cast(dt)

  /** Coerce columns of `schema` to `target`'s types. Returns the cast
    * projection (one column per `target` field, in order) and the row-failure
    * predicate: true when some present value does not coerce or a required
    * field is missing. The predicate is never null, so it splits rows exactly
    * into good and quarantined. Columns in `target` missing from `schema`
    * project as NULL (schema evolution fills later rows); columns of
    * `schema` not in `target` are ignored. */
  def validate(schema: StructType, target: StructType): (Seq[Column], Column) = {
    val have = schema.fields.map(f => f.name -> f.dataType).toMap
    val casts: Seq[Column] = target.fields.toSeq.map { tf =>
      (have.get(tf.name) match {
        case None => lit(null).cast(tf.dataType)
        case Some(src) if src == tf.dataType => col(s"`${tf.name}`")
        case Some(_) => tryCastTo(col(s"`${tf.name}`"), tf.dataType)
      }).as(tf.name)
    }
    // a row fails when any source value was non-null but its cast is null,
    // or a required field is null
    val failures: Seq[Column] = target.fields.toSeq.flatMap { tf =>
      val required = tf.metadata.contains(Types.KRequired) &&
        tf.metadata.getBoolean(Types.KRequired)
      val castFail = have.get(tf.name) match {
        case Some(src) if src != tf.dataType =>
          Seq(col(s"`${tf.name}`").isNotNull &&
            tryCastTo(col(s"`${tf.name}`"), tf.dataType).isNull)
        case _ => Nil
      }
      val reqFail =
        if (required && have.contains(tf.name)) Seq(col(s"`${tf.name}`").isNull)
        else if (required) Seq(lit(true))
        else Nil
      castFail ++ reqFail
    }
    (casts, failures.reduceOption(_ || _).getOrElse(lit(false)))
  }

  /** Quarantine record shape mirroring the reference's structured error
    * (moisturizer/errors.py:20-25): the offending row serialized to JSON plus
    * an error code/message. */
  def quarantineRecords(rows: DataFrame, errno: Int = 999,
                        message: String = "validation failed",
                        error: String = "Invalid parameters"): DataFrame =
    rows.select(
      to_json(struct(rows.columns.map(n => col(s"`$n`")).toSeq: _*)).as("row_json"),
      lit(errno).as("errno"),
      lit(error).as("error"),
      lit(message).as("message"))
}
