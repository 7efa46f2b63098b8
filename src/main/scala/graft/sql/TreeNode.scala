package graft.sql

/** A node of an expression tree — the parse-side `Ast.Node` or the bound
  * `Analyzer.BoundNode`. Each node type names its child nodes once, in
  * `children`; every walker over the tree (analyzer checks, collectors,
  * the operand lowering) recurses through them instead of restating the
  * node list, so a wrapper added later is seen by every walker at once.
  *
  * Children are the expression-typed fields evaluated in the node's own
  * scope. Subquery bodies are never children, nor are decorrelation
  * pairs or EXISTS residuals: a walker that reads them says so at that
  * node.
  */
trait TreeNode[N <: TreeNode[N]] { self: N =>
  def children: Seq[N]

  /** Whether `stop` answers true somewhere in the tree. A node where
    * `stop` is defined answers for its whole subtree (the walk does not
    * descend below it); every other node asks its children.
    */
  final def exists(stop: PartialFunction[N, Boolean]): Boolean =
    stop.applyOrElse(self, (n: N) => n.children.exists(_.exists(stop)))

  /** Pre-order collection. A node where `stop` is defined contributes its
    * result and is not descended; every other node contributes its
    * children's results.
    */
  final def collect[A](stop: PartialFunction[N, Seq[A]]): Seq[A] =
    stop.applyOrElse(self, (n: N) => n.children.flatMap(_.collect(stop)))
}
