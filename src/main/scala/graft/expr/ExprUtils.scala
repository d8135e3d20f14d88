package graft.expr

/** Static analysis over parsed DSL expressions, used by build()-time
  * reference resolution and validation
  * (ref: python/feathub/dsl/expr_utils.py:29-80).
  */
object ExprUtils {

  /** Names of all identifiers (variables) referenced by the expression.
    * Function names are FuncCall nodes, not Idents, so built-ins are
    * excluded naturally.
    */
  def variables(expr: String): Set[String] = collect(Parser.parse(expr))

  def variables(node: ExprNode): Set[String] = collect(node)

  private def collect(n: ExprNode): Set[String] = n match {
    case Ident(name)          => Set(name)
    case BinaryOp(_, l, r)    => collect(l) ++ collect(r)
    case CompareOp(_, l, r)   => collect(l) ++ collect(r)
    case LogicalOp(_, l, r)   => collect(l) ++ collect(r)
    case NotOp(c)             => collect(c)
    case UminusOp(c)          => collect(c)
    case IsNullOp(c, _)       => collect(c)
    case CaseOp(whens, dflt)  =>
      whens.flatMap { case (c, v) => collect(c) ++ collect(v) }.toSet ++
        dflt.map(collect).getOrElse(Set.empty)
    case CastOp(c, _, _)      => collect(c)
    case BracketOp(coll, key) => collect(coll) ++ collect(key)
    case FuncCall(_, args)    => args.flatMap(collect).toSet
    case _                    => Set.empty
  }

  /** True iff the expression is a single bare/backticked identifier. */
  def isId(expr: String): Boolean =
    try Parser.parse(expr).isInstanceOf[Ident]
    catch { case _: Exception => false }

  /** True iff the expression is a map subscript of a variable by a LITERAL
    * key — `m['k']` — the shape eligible for static lookup pushdown
    * (ref: expr_utils.py:60-73).
    */
  def isStaticMapLookup(expr: String): Boolean =
    try Parser.parse(expr) match {
      case BracketOp(Ident(_), _: StringLit | _: IntLit) => true
      case _                                             => false
    } catch { case _: Exception => false }

  /** The (variable, literal key) of a static map lookup
    * (ref: expr_utils.py:75-86).
    */
  def staticMapLookupParts(expr: String): (String, Any) =
    Parser.parse(expr) match {
      case BracketOp(Ident(v), StringLit(k)) => (v, k)
      case BracketOp(Ident(v), IntLit(k))    => (v, k)
      case other =>
        throw new IllegalArgumentException(s"Not a static map lookup: $other")
    }
}
