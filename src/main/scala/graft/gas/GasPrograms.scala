package graft.gas

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame

/** Registry of CUSTOM GAS programs runnable through `SERVICE
  * gas:service { … }` — the reference's IGASProgram seam: GASService
  * accepts ANY registered program class via `gas:gasClass`, not just
  * the shipped analytics (bigdata-core/bigdata-rdf/src/java/com/
  * bigdata/rdf/graph/impl/bd/GASService.java:153 instantiates the
  * named IGASProgram reflectively). Here a program is a plain
  * function: it receives the service's edge relation (src, dst —
  * already direction-resolved from gas:linkType /
  * gas:traversalDirection) plus the raw gas:* option multimap, and
  * returns a (node, value) result the compiler renames onto the
  * query's gas:out / gas:outVal variables.
  *
  * Programs should run their iteration through [[Pregel.run]] /
  * [[Pregel.runDelta]] — the IGASProgram gather/apply/scatter loop's
  * Spark-native shape — or a loop of their own through
  * [[graft.plans.Fixpoint]], the runner of every engine loop.
  */
object GasPrograms {

  /** (edges (src, dst), gas:* options) → (node, value) result. */
  type Program = (DataFrame, Map[String, Seq[String]]) => DataFrame

  private val programs = TrieMap.empty[String, Program]

  /** Register a program under the name queries pass as
    * `gas:gasClass` (the reference uses the IGASProgram class name;
    * any token works here). */
  def register(name: String, p: Program): Unit =
    programs.put(name.toLowerCase, p)

  def unregister(name: String): Unit = programs.remove(name.toLowerCase)

  def lookup(name: String): Option[Program] = programs.get(name.toLowerCase)
}
