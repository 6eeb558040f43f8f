package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}

/** Registration point for graft's custom Catalyst expressions.
  *
  * Spark 4 removed the public Column(Expression) constructor, so custom
  * expressions enter plans through the session FunctionRegistry +
  * `call_function` — which also makes them available to SQL users
  * (`SELECT word_shingles(text, 3) FROM docs`).
  */
object GraftFunctions {

  /** (name, signature, builder over the call's arguments) of every graft
    * function; a call with another arity fails naming the signature.
    */
  private val functions: Seq[(String, String, PartialFunction[Seq[Expression], Expression])] = Seq(
    ("word_shingles", "word_shingles(text, n)", {
      case Seq(text, n) => WordShingles(text, intLiteral(n, "word_shingles(text, n)"))
    }),
    ("array_dot", "array_dot(a, b)", { case Seq(a, b) => ArrayDot(a, b) }),
    ("minhash_signature", "minhash_signature(text, numHashes, n)", {
      case Seq(text, k, n) => MinhashSignature(text,
        intLiteral(k, "minhash_signature(text, numHashes, n)"),
        intLiteral(n, "minhash_signature(text, numHashes, n)"))
    }),
    ("simhash_signature", "simhash_signature(text)", { case Seq(text) => SimhashSignature(text) }),
    ("bloom_might_contain_long", "bloom_might_contain_long(filter, value)", {
      case Seq(f, v) => BloomMightContainLong(f, v)
    }),
    ("md5_prefix", "md5_prefix(s, n)", {
      case Seq(s, n) => Md5Prefix(s, intLiteral(n, "md5_prefix(s, n)"))
    }),
    ("md5_permille", "md5_permille(id, salt)", {
      case Seq(id, salt) => Md5Permille(id, stringLiteral(salt, "md5_permille(id, salt)"))
    }))

  /** Register the graft functions in `spark`'s registry, once: a function
    * the session's own registry already holds is left as it is (a
    * replacement logs a SimpleFunctionRegistry WARN, and every column
    * helper calls this). The check reads the registry itself, so there is
    * no session bookkeeping here (an identity-based cache risked skipping a
    * fresh session on hash collision and grew unboundedly).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, signature, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name,
          (exprs: Seq[Expression]) => build.applyOrElse(exprs, (other: Seq[Expression]) =>
            throw new IllegalArgumentException(
              s"wrong argument count for $signature: got ${other.size}")),
          "built-in")
    }
  }

  private def intLiteral(e: Expression, ctx: String): Int = e match {
    case Literal(v: Int, _) => v
    case other if other.foldable => other.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$ctx: n must be a literal")
  }

  private def stringLiteral(e: Expression, ctx: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other if other.foldable => other.eval().toString
    case _ => throw new IllegalArgumentException(s"$ctx: salt must be a literal")
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def wordShingles(text: Column, n: Int): Column = {
    register(SparkSession.active)
    call_function("word_shingles", text, lit(n))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def arrayDot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("array_dot", a, b)
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def minhashSignature(text: Column, numHashes: Int, n: Int): Column = {
    register(SparkSession.active)
    call_function("minhash_signature", text, lit(numHashes), lit(n))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def simhashSignature(text: Column): Column = {
    register(SparkSession.active)
    call_function("simhash_signature", text)
  }

  /** Column-API wrapper; auto-registers in the active session.
    * `filterBytes` is a serialized spark-sketch BloomFilter (see
    * [[BloomMightContainLong]]); `v` a LONG hash column to probe.
    */
  def bloomMightContainLong(filterBytes: Array[Byte], v: Column): Column = {
    register(SparkSession.active)
    call_function("bloom_might_contain_long", lit(filterBytes), v)
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def md5Prefix(s: Column, nHex: Int): Column = {
    register(SparkSession.active)
    call_function("md5_prefix", s, lit(nHex))
  }

  /** Column-API wrapper; auto-registers in the active session. */
  def md5Permille(id: Column, salt: String): Column = {
    register(SparkSession.active)
    call_function("md5_permille", id, lit(salt))
  }
}
