package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one place graft installs itself into a session. The jar lists
  * this class in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `getOrCreate` applies it to every new root session on a
  * classpath that carries graft, and `newSession`/`cloneSession` (a
  * streaming micro-batch's session included) inherit it. No caller
  * builds or configures anything for it.
  *
  *   - The functions of [[functions.VectorExprs.descriptions]]
  *     (`cosine_sim`, `minhash_mix`, `topk_struct`, ...) resolve in
  *     every session's SQL and `expr`.
  *   - The `file:` scheme is served by [[ForkFreeLocalFileSystem]]
  *     (`fs.file.impl`) and [[ForkFreeLocalFs]]
  *     (`fs.AbstractFileSystem.file.impl`): without libhadoop the stock
  *     local file system starts a `chmod` process per created file and
  *     four `readlink` processes per `FileContext` rename (SCALE_NOTES
  *     "Fork-free local file I/O"). `fs.file.impl.disable.cache=true`
  *     goes with them: Hadoop's `FileSystem` cache is keyed by scheme
  *     and user, not conf, so a stock instance cached earlier would
  *     otherwise win. The keys go on the context's Hadoop conf, which
  *     every session's Hadoop conf copies. `getOrCreate` runs this
  *     once the context is active and before the session's
  *     `SharedState` creates the warehouse directory, so that
  *     directory is made without a `chmod` too.
  *
  * Spark applies a class named in `spark.sql.extensions` at the same
  * point. Passing one to `Builder.withExtensions` instead runs it
  * before the builder has made its context, so do not.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.VectorExprs.descriptions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), builder))
    }
    val conf = SparkContext.getOrCreate().hadoopConfiguration
    conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
  }
}
