package perfbench

import graft.sync.TableStore
import org.scalatest.funsuite.AnyFunSuite

import java.lang.reflect.{Method, Modifier, Proxy}

/** A traced run must not change engine behaviour: the decorator has to
  * forward every member of [[TableStore]] to the wrapped store. A member it
  * fails to override would run the trait's default instead (scalac emits a
  * forwarder for it, so reflection on declared methods cannot tell), so the
  * check is behavioural: call each member through the decorator and see it
  * reach the wrapped store under its own name. */
class TracedStoreSpec extends AnyFunSuite {

  private def members = classOf[TableStore].getMethods.toSeq
    .filterNot(m => Modifier.isStatic(m.getModifiers))
    // Default-argument getters: evaluated by the caller, not behaviour.
    .filterNot(_.getName.contains("$default$"))

  test("TracedStore forwards every TableStore member to the wrapped store") {
    val reached = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[TableStore]),
      (_: AnyRef, m: Method, _: Array[AnyRef]) => {
        reached += m.getName
        if (m.getReturnType == classOf[Option[_]]) None
        else if (m.getReturnType == classOf[Seq[_]]) Nil
        else null
      }).asInstanceOf[TableStore]
    val spans = new Spans
    spans.enabled = true
    val traced = new TracedStore(inner, spans)
    assert(members.map(_.getName).toSet.contains("applyDelta"))
    for (m <- members) {
      reached.clear()
      val args = m.getParameterTypes.map(t =>
        if (t == java.lang.Boolean.TYPE) java.lang.Boolean.FALSE else null)
      m.invoke(traced, args: _*)
      assert(reached.toSeq == Seq(m.getName), s"${m.getName} reached the wrapped store as $reached")
      if (m.getName != "spark")
        assert(spans.all.last.name == "TableStore." + m.getName, m.getName)
    }
  }

  test("the members a decorator is most likely to miss are among those checked") {
    val names = classOf[TableStore].getMethods.map(_.getName).toSet
    assert(Set("tablePath", "changeToken", "pushedHashMap", "applyDelta", "schemaOf",
      "read", "list").subsetOf(names))
  }

  test("tags map engine job descriptions, anything else is untagged") {
    assert(Tags.of("sync: lineitem fused-gate") == Tags.FusedGate)
    assert(Tags.of("sync: orders diff-leg spill") == Tags.Spill)
    assert(Tags.of("sync: orders store apply") == Tags.Apply)
    assert(Tags.of("sync: orders renamed-phase") == Tags.Untagged)
    assert(Tags.of(null) == Tags.Untagged)
  }
}
