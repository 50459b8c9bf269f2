package perfbench

import scala.util.Random

/** One read request: SPARQL text for the endpoint and the SQL whose
  * answer (over the input tables, in DuckDB) it must equal. `kind` is
  * `select`, `ask` or `graph` (N-Triples result). */
final case class ReadQuery(template: String, sparql: String, sql: String, kind: String)

/** Keys drawn Zipf-skewed over `n` items; a seeded permutation decides
  * which keys are hot. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private val perm = rnd.shuffle((0 until n).toVector)
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}

/** The read mix: eight templates taken in turn, keys from the seed. */
final class Templates(nCust: Int, nOrd: Int, nPart: Int, rnd: Random) {
  private val cust = new Zipf(nCust, 1.1, rnd)
  private val ord = new Zipf(nOrd, 1.1, rnd)
  private val part = new Zipf(nPart, 1.1, rnd)
  private val nation = new Zipf(25, 0.8, rnd)
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private def dec2(c: String) = s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
  private def id(p: String, c: String) = s"'$p:' || CAST($c AS VARCHAR)"

  val names: Vector[String] =
    Vector("point", "ask", "describe", "star", "chain", "group", "path", "large")

  def make(template: String): ReadQuery = template match {
    case "point" =>
      val k = cust.next()
      ReadQuery(template,
        s"SELECT ?name ?bal ?seg WHERE { c:$k name ?name . c:$k acctbal ?bal . c:$k mktsegment ?seg }",
        s"SELECT c_name AS name, ${dec2("c_acctbal")} AS bal, c_mktsegment AS seg " +
          s"FROM customer WHERE c_custkey = $k", "select")
    case "ask" =>
      val k = cust.next()
      ReadQuery(template, s"""ASK { ?o customer c:$k . ?o status "F" }""",
        s"SELECT CASE WHEN count(*) > 0 THEN 'true' ELSE 'false' END AS boolean " +
          s"FROM orders WHERE o_custkey = $k AND o_orderstatus = 'F'", "ask")
    case "describe" =>
      val k = part.next()
      val props = Seq("'type'" -> "'Part'", "'name'" -> "p_name", "'brand'" -> "p_brand",
        "'ptype'" -> "p_type", "'size'" -> "CAST(p_size AS VARCHAR)",
        "'retailprice'" -> dec2("p_retailprice"))
      ReadQuery(template, s"DESCRIBE p:$k",
        props.map { case (p, o) =>
          s"SELECT 'p:$k' AS s, $p AS p, $o AS o FROM part WHERE p_partkey = $k"
        }.mkString(" UNION ALL "), "graph")
    case "star" =>
      val n = nation.next()
      val seg = segments(rnd.nextInt(segments.size))
      val x = rnd.nextInt(8000)
      ReadQuery(template,
        s"""SELECT ?c ?name ?bal WHERE { ?c nation n:$n . ?c mktsegment "$seg" . """ +
          s"?c name ?name . ?c acctbal ?bal FILTER(?bal > $x) } ORDER BY ?name LIMIT 10",
        s"SELECT ${id("c", "c_custkey")} AS c, c_name AS name, ${dec2("c_acctbal")} AS bal " +
          s"FROM customer WHERE c_nationkey = $n AND c_mktsegment = '$seg' " +
          s"AND CAST(${dec2("c_acctbal")} AS DOUBLE) > $x ORDER BY name LIMIT 10", "select")
    case "chain" =>
      val k = cust.next()
      ReadQuery(template,
        s"SELECT ?o ?l ?p WHERE { ?o customer c:$k . ?l order ?o . ?l part ?p }",
        s"SELECT ${id("o", "o_orderkey")} AS o, " +
          s"'l:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS l, " +
          s"${id("p", "l_partkey")} AS p FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
          s"WHERE o_custkey = $k", "select")
    case "group" =>
      val n = nation.next()
      ReadQuery(template,
        s"SELECT ?seg (COUNT(?c) AS ?n) WHERE { ?c nation n:$n . ?c mktsegment ?seg } GROUP BY ?seg",
        s"SELECT c_mktsegment AS seg, CAST(count(*) AS VARCHAR) AS n FROM customer " +
          s"WHERE c_nationkey = $n GROUP BY c_mktsegment", "select")
    case "path" =>
      val k = ord.next()
      ReadQuery(template, s"SELECT ?r WHERE { o:$k customer/nation/region ?r }",
        s"SELECT ${id("r", "n_regionkey")} AS r FROM orders " +
          s"JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
          s"WHERE o_orderkey = $k", "select")
    case "large" =>
      val st = Vector("F", "O", "P")(rnd.nextInt(3))
      ReadQuery(template, s"""SELECT ?o ?d WHERE { ?o status "$st" . ?o orderdate ?d }""",
        s"SELECT ${id("o", "o_orderkey")} AS o, strftime(o_orderdate, '%Y-%m-%d') AS d " +
          s"FROM orders WHERE o_orderstatus = '$st'", "select")
  }
}
