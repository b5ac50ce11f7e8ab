package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan over a fixture directory,
  * and the DuckDB SQL that must return the same rows. `oracle` is `None`
  * only for the hash-signature rows (MinHash/SimHash/IVF), whose output is
  * engine-defined and checked for rows only.
  *
  * Each family object builds its `cases` from the `val`s above it. Scala
  * initializes an object's `val`s in declaration order, so `cases` is
  * declared last: a `val` declared below it would still be `null` when
  * `cases` reads it. */
final case class Case(name: String, run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
