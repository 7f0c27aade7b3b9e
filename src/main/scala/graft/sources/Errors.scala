package graft.sources

/** Error contracts of the reference's root crate (the stricter one —
  * kowari src/storage.rs:30-47, vector_db/src/collection_manager.rs:146-152).
  */
sealed abstract class VectorDbException(msg: String) extends RuntimeException(msg)

/** Insert of an id that already exists (src/storage.rs:30-36). */
final case class DuplicateIdException(ids: Seq[String])
  extends VectorDbException(s"duplicate id(s): ${ids.take(5).mkString(", ")}")

/** Delete/get of an id that does not exist (src/storage.rs:42-47). */
final case class MissingIdException(id: String)
  extends VectorDbException(s"missing id: $id")

/** Insert whose vector dimension differs from the collection's fixed
  * dimension (vector_db/src/collection_manager.rs:146-152). */
final case class DimensionMismatchException(expected: Int, got: Seq[Int])
  extends VectorDbException(
    s"dimension mismatch: expected $expected, got ${got.take(5).mkString(", ")}")

/** Insert of a NULL vector, or of one with a NULL, NaN or infinite
  * component. */
final case class NonFiniteVectorException(ids: Seq[String])
  extends VectorDbException(s"NULL or non-finite vector component(s) in id(s): ${ids.take(5).mkString(", ")}")

/** Unknown collection name. */
final case class NoSuchCollectionException(name: String)
  extends VectorDbException(s"no such collection: $name")
