package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.tools.asm.{ClassReader, Opcodes, Type}
import scala.tools.asm.tree._
import scala.tools.asm.tree.analysis.{Analyzer, Frame, SourceInterpreter, SourceValue}
import scala.util.Try

/** Every defaulted parameter of main's methods, with how the calls in
  * main and the specs treat it, read from the bytecode with the ASM
  * tree and data-flow API that scalac ships (scala-compiler sits in
  * Spark's jar directory).
  *
  * scalac compiles a default to a getter `m$default$N` on the method's
  * owner, and a call that leaves parameter N out calls that getter
  * first. So of the calls to `m` (the one overload that declares
  * defaults, matched by descriptor), `taken` call the getter, `echoed`
  * pass the very constant the getter returns (the argument traced,
  * through local temporaries, to a literal, an object or an object's
  * field), and the others set the parameter. Static forwarders are
  * skipped: they pass through what their own caller gave. */
final class DefaultedParams(mainDir: Path, testDir: Path) {
  import DefaultedParams._

  private val main = load(mainDir)
  private val callers = main.values ++ load(testDir).values

  /** A static method that only forwards to its companion object's method. */
  private def forwarder(c: ClassNode, m: MethodNode): Boolean =
    (m.access & Opcodes.ACC_STATIC) != 0 && main.get(c.name + "$").exists(
      _.methods.asScala.exists(o => o.name == m.name && o.desc == m.desc))

  private val sites: Map[(String, String, String), Seq[Site]] = callers.toSeq.flatMap { c =>
    c.methods.asScala.filterNot(forwarder(c, _)).flatMap(m =>
      m.instructions.iterator().asScala.collect {
        case i: MethodInsnNode => (i.owner, i.name, i.desc) -> Site(c.name, m, i)
      })
  }.groupMap(_._1)(_._2)

  private val frames = mutable.Map.empty[MethodNode, Array[Frame[SourceValue]]]

  /** The data-flow frame before `i`: where each stack and local value came from. */
  private def frameAt(owner: String, m: MethodNode, i: AbstractInsnNode): Option[Frame[SourceValue]] =
    frames.getOrElseUpdate(m, Try(new Analyzer(new SourceInterpreter).analyze(owner, m))
      .getOrElse(Array.empty)).lift(m.instructions.indexOf(i)).flatMap(Option(_))

  /** The constant `v` holds, if one instruction pushed it, or stored it
    * into the local a load reads (bounded, so a loop cannot recurse). */
  private def constant(owner: String, m: MethodNode, v: SourceValue, hops: Int = 8): Option[Any] =
    v.insns.asScala.toList match {
      case List(i: VarInsnNode) if hops > 0 => frameAt(owner, m, i).flatMap { f =>
        if (i.getOpcode < Opcodes.ISTORE) constant(owner, m, f.getLocal(i.`var`), hops - 1)
        else constant(owner, m, f.getStack(f.getStackSize - 1), hops - 1)
      }
      case List(i) => literal(i)
      case _ => None
    }

  private def top(owner: String, m: MethodNode, i: AbstractInsnNode, depth: Int): Option[Any] =
    frameAt(owner, m, i).flatMap(f => constant(owner, m, f.getStack(f.getStackSize - 1 - depth)))

  /** The constant getter `g` returns, when its body returns one. */
  private def default(owner: String, g: MethodNode): Option[Any] =
    g.instructions.iterator().asScala
      .filter(i => i.getOpcode >= Opcodes.IRETURN && i.getOpcode <= Opcodes.ARETURN).toList match {
      case List(ret) => top(owner, g, ret, 0)
      case _ => None
    }

  private def caseClass(c: String): Boolean = main.get(c).exists(
    _.methods.asScala.exists(m => m.name == "productPrefix" && m.desc == "()Ljava/lang/String;"))

  /** Getters scalac writes for a constructor, and the ones it derives
    * from a case class's constructor (`apply`, `copy`), are out of scope;
    * so are anonymous classes, which only override library methods. */
  private def declared(c: ClassNode, method: String): Boolean =
    !c.name.contains("$$") && method != "$lessinit$greater" &&
      !((method == "apply" || method == "copy") && caseClass(c.name.stripSuffix("$")))

  val params: Seq[Param] = main.values.toSeq.flatMap { c =>
    val methods = c.methods.asScala.toSeq
      .filter(m => (m.access & (Opcodes.ACC_STATIC | Opcodes.ACC_BRIDGE)) == 0)
    methods.flatMap(g => g.name match {
      case Getter(m, n) if declared(c, m) => Some((m, n.toInt, g))
      case _ => None
    }).groupBy(_._1).toSeq.flatMap { case (name, getters) =>
      val overloads = methods.filter { m =>
        val args = Type.getArgumentTypes(m.desc)
        m.name == name && getters.forall { case (_, n, g) =>
          args.length >= n && args(n - 1) == Type.getReturnType(g.desc)
        }
      }
      require(overloads.size == 1, s"${c.name}.$name: ${overloads.size} overloads match its defaults")
      val m = overloads.head
      val calls = sites.getOrElse((c.name, m.name, m.desc), Nil)
      val arity = Type.getArgumentTypes(m.desc).length
      getters.sortBy(_._2).map { case (_, n, g) =>
        val value = default(c.name, g)
        val echoed = if (value.isEmpty) 0
          else calls.count(s => top(s.owner, s.method, s.call, arity - n) == value)
        Param(MainReachability.display(c.name), name, paramName(m, n), calls.size,
          sites.getOrElse((c.name, g.name, g.desc), Nil).size, echoed)
      }
    }
  }.sortBy(_.toString)
}

object DefaultedParams {
  /** Parameter `name` of `owner.method`, called `calls` times, of which
    * `taken` leave it to its default and `echoed` pass the default's
    * own constant. */
  final case class Param(owner: String, method: String, name: String, calls: Int, taken: Int,
                         echoed: Int) {
    def set: Int = calls - taken - echoed
    override def toString: String = s"$owner.$method:$name"
  }

  private final case class Site(owner: String, method: MethodNode, call: MethodInsnNode)

  private val Getter = """(.+)\$default\$(\d+)""".r

  /** Every class under `classDir`, by internal name. */
  private def load(classDir: Path): Map[String, ClassNode] = {
    val walk = Files.walk(classDir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".class")).map { p =>
      val node = new ClassNode
      new ClassReader(Files.readAllBytes(p)).accept(node, ClassReader.SKIP_FRAMES)
      node.name -> node
    }.toMap
    finally walk.close()
  }

  /** The value a constant-pushing instruction pushes; an object
    * (`None`, `Nil`) is its `MODULE$` load's owner, and an object's
    * field or other no-argument method is its accessor's call. */
  private def literal(i: AbstractInsnNode): Option[Any] = i.getOpcode match {
    case op if op >= Opcodes.ICONST_M1 && op <= Opcodes.ICONST_5 => Some(op - Opcodes.ICONST_0)
    case op if op == Opcodes.LCONST_0 || op == Opcodes.LCONST_1 => Some((op - Opcodes.LCONST_0).toLong)
    case op if op >= Opcodes.FCONST_0 && op <= Opcodes.FCONST_2 => Some((op - Opcodes.FCONST_0).toFloat)
    case op if op == Opcodes.DCONST_0 || op == Opcodes.DCONST_1 => Some((op - Opcodes.DCONST_0).toDouble)
    case Opcodes.BIPUSH | Opcodes.SIPUSH => Some(i.asInstanceOf[IntInsnNode].operand)
    case Opcodes.LDC => Some(i.asInstanceOf[LdcInsnNode].cst)
    case Opcodes.GETSTATIC => Some(i.asInstanceOf[FieldInsnNode]).collect {
      case f if f.name == "MODULE$" => Type.getObjectType(f.owner)
    }
    case Opcodes.INVOKEVIRTUAL => Some(i.asInstanceOf[MethodInsnNode]).collect {
      case m if m.owner.endsWith("$") && m.desc.startsWith("()") => (m.owner, m.name, m.desc)
    }
    case _ => None
  }

  /** The local-variable name of an instance method's parameter `n` (1-based). */
  private def paramName(m: MethodNode, n: Int): String = {
    val slot = 1 + Type.getArgumentTypes(m.desc).take(n - 1).map(_.getSize).sum
    Option(m.localVariables).flatMap(_.asScala.find(_.index == slot)).fold(s"#$n")(_.name)
  }
}
