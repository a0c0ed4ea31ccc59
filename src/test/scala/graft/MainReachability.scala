package graft

import java.nio.file.{Files, Path}
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Method-level reachability over main's compiled classes, read with
  * the ASM tree API that Spark ships (no SparkSession, no new
  * dependency). A text scan cannot see code that only a spec keeps
  * alive; this walk starts from the roots main is run from and follows
  * the bytecode.
  *
  * Edges: `invoke*` calls, with virtual dispatch into every main
  * subtype that declares the method; the `Handle`s of `invokedynamic`
  * and `ldc` (Scala lambdas). A static field read (`MODULE$`) or call,
  * `NEW` or a class literal makes a class live, and a live class
  * reaches its `<clinit>`, every method that overrides a library
  * supertype method (Catalyst's `eval`/`doGenCode`, the
  * `StatefulProcessor` hooks, `Function1.apply`), and, for a case
  * class, its field accessors, which Spark's encoders call by
  * reflection. */
final class MainReachability(classDir: Path, loader: ClassLoader) {
  import MainReachability._

  val classes: Map[String, ClassNode] = {
    val walk = Files.walk(classDir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".class")).map { p =>
      val node = new ClassNode
      new ClassReader(Files.readAllBytes(p)).accept(node, ClassReader.SKIP_FRAMES)
      node.name -> node
    }.toMap
    finally walk.close()
  }

  private def methodsOf(c: String): Seq[MethodNode] =
    classes.get(c).fold(Seq.empty[MethodNode])(_.methods.asScala.toSeq)

  private def declares(c: String, name: String, desc: String): Boolean =
    methodsOf(c).exists(m => m.name == name && m.desc == desc)

  /** Main supertypes of `c`, nearest first: superclass chain, then interfaces. */
  private def mainSupers(c: String): Seq[String] = classes.get(c).toSeq.flatMap { n =>
    (Option(n.superName).toSeq ++ n.interfaces.asScala).filter(classes.contains)
  }

  private val subtypes: Map[String, Seq[String]] =
    classes.keys.toSeq.flatMap(c => mainSupers(c).map(_ -> c)).groupMap(_._1)(_._2)

  private def allSubtypes(c: String): Set[String] = {
    val direct = subtypes.getOrElse(c, Nil).toSet
    direct ++ direct.flatMap(allSubtypes)
  }

  /** `(name, descriptor)` of every method declared by a library (non-main)
    * supertype of `c`, read by reflection without initializing anything. */
  private val librarySigs = mutable.Map.empty[String, Set[(String, String)]]

  private def libraryMethods(c: String): Set[(String, String)] = librarySigs.getOrElseUpdate(c, {
    val k = Class.forName(c.replace('/', '.'), false, loader)
    def declared(s: Class[_]): Set[(String, String)] =
      s.getDeclaredMethods.map(m => m.getName -> Type.getMethodDescriptor(m)).toSet ++
        (Option(s.getSuperclass).toSeq ++ s.getInterfaces).flatMap(declared)
    (Option(k.getSuperclass).toSeq ++ k.getInterfaces).flatMap { s =>
      val name = Type.getInternalName(s)
      if (classes.contains(name)) libraryMethods(name) else declared(s)
    }.toSet
  })

  /** scalac gives every case class a `productPrefix`. */
  private def isCaseClass(c: String): Boolean =
    declares(c, "productPrefix", "()Ljava/lang/String;")

  val reached = mutable.Set.empty[Ref]
  private val live = mutable.Set.empty[String]
  private val work = mutable.Stack.empty[Ref]

  private def reach(r: Ref): Unit =
    if (declares(r.owner, r.name, r.desc) && reached.add(r)) {
      work.push(r)
      // a var main writes is read through its getter, by main or a spec
      if (r.name.endsWith("_$eq")) Type.getArgumentTypes(r.desc).foreach(t =>
        reach(Ref(r.owner, r.name.stripSuffix("_$eq"), s"()${t.getDescriptor}")))
    }

  /** The declaration a call on `owner` resolves to: `owner` or its
    * nearest main supertype that declares the method. */
  private def resolve(owner: String, name: String, desc: String): Option[String] =
    if (declares(owner, name, desc)) Some(owner)
    else mainSupers(owner).iterator.flatMap(resolve(_, name, desc)).nextOption()

  private def call(owner: String, name: String, desc: String, virtual: Boolean): Unit =
    if (classes.contains(owner)) {
      resolve(owner, name, desc).foreach(d => reach(Ref(d, name, desc)))
      if (virtual) allSubtypes(owner).foreach(s => reach(Ref(s, name, desc)))
    }

  private def makeLive(c: String): Unit = if (classes.contains(c) && live.add(c)) {
    mainSupers(c).foreach(makeLive)
    methodsOf(c).filter(_.name == "<clinit>").foreach(m => reach(Ref(c, m.name, m.desc)))
    val lib = libraryMethods(c)
    methodsOf(c).filter(m => lib((m.name, m.desc))).foreach(m => reach(Ref(c, m.name, m.desc)))
    if (isCaseClass(c)) {
      val fields = classes(c).fields.asScala.map(f => f.name -> s"()${f.desc}").toSet
      methodsOf(c).filter(m => fields((m.name, m.desc))).foreach(m => reach(Ref(c, m.name, m.desc)))
    }
  }

  private def handle(h: Handle): Unit = h.getTag match {
    case Opcodes.H_NEWINVOKESPECIAL =>
      makeLive(h.getOwner); call(h.getOwner, h.getName, h.getDesc, virtual = false)
    case Opcodes.H_INVOKESTATIC =>
      makeLive(h.getOwner); call(h.getOwner, h.getName, h.getDesc, virtual = false)
    case Opcodes.H_INVOKESPECIAL => call(h.getOwner, h.getName, h.getDesc, virtual = false)
    case Opcodes.H_INVOKEVIRTUAL | Opcodes.H_INVOKEINTERFACE =>
      call(h.getOwner, h.getName, h.getDesc, virtual = true)
    case _ => ()
  }

  private def constant(cst: Any): Unit = cst match {
    case h: Handle => handle(h)
    case t: Type if t.getSort == Type.OBJECT => makeLive(t.getInternalName)
    case t: Type if t.getSort == Type.ARRAY => constant(t.getElementType)
    case _ => ()
  }

  private def visit(r: Ref): Unit =
    methodsOf(r.owner).find(m => m.name == r.name && m.desc == r.desc).foreach { m =>
      m.instructions.iterator().asScala.foreach {
        case i: MethodInsnNode =>
          if (i.getOpcode == Opcodes.INVOKESTATIC) makeLive(i.owner)
          call(i.owner, i.name, i.desc, virtual =
            i.getOpcode == Opcodes.INVOKEVIRTUAL || i.getOpcode == Opcodes.INVOKEINTERFACE)
        case i: InvokeDynamicInsnNode => i.bsmArgs.foreach(constant)
        case i: LdcInsnNode => constant(i.cst)
        case i: FieldInsnNode if i.getOpcode == Opcodes.GETSTATIC => makeLive(i.owner)
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => makeLive(i.desc)
        case _ => ()
      }
    }

  /** Reach every method of `c` named `name`; false if there is none. */
  def root(c: String, name: String): Boolean = {
    val ms = methodsOf(c).filter(_.name == name)
    makeLive(c)
    ms.foreach(m => reach(Ref(c, m.name, m.desc)))
    ms.nonEmpty
  }

  /** A class the runtime loads by name: live, with its constructors
    * and public methods reached; false if it is not in main. */
  def rootClass(c: String): Boolean = {
    makeLive(c)
    methodsOf(c).filter(m => (m.access & Opcodes.ACC_PUBLIC) != 0)
      .foreach(m => reach(Ref(c, m.name, m.desc)))
    classes.contains(c)
  }

  def run(): Unit = while (work.nonEmpty) visit(work.pop())

  /** Public methods (`private[graft]` compiles to public) the walk did
    * not reach, less what scalac generates or inlines: synthetic
    * methods, bridges, statics (lambda bodies and the static forwarders
    * of objects and traits), `$`-mangled names (`$default$`, `$init$`,
    * expanded privates), the classes scalac names after their enclosing
    * method (`$$anon`, `$$typecreator`), case-class boilerplate and
    * `final val` literal-constant accessors. */
  def unreached: Seq[Unreached] = classes.values.toSeq.flatMap { c =>
    val caseLike = isCaseClass(c.name) || isCaseClass(c.name.stripSuffix("$"))
    c.methods.asScala.filter { m =>
      !c.name.contains("$$") && (m.access & Opcodes.ACC_PUBLIC) != 0 &&
        (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE | Opcodes.ACC_STATIC)) == 0 &&
        !m.name.contains('$') && !m.name.startsWith("<") &&
        !(caseLike && caseBoilerplate(m.name)) && !literalConstant(m) &&
        !reached(Ref(c.name, m.name, m.desc))
    }.map(m => Unreached(sourcePath(c), firstLine(m), display(c.name) + "." + m.name))
  }.distinctBy(_.name).sortBy(u => (u.file, u.line))
}

object MainReachability {
  final case class Ref(owner: String, name: String, desc: String)

  final case class Unreached(file: String, line: Int, name: String) {
    override def toString: String = s"$file:$line $name"
  }

  private val caseBoilerplate = Set("copy", "productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames", "canEqual", "equals",
    "hashCode", "toString", "apply", "unapply", "tupled", "curried")

  /** A `final val x = <literal>` accessor: scalac inlines its uses, so
    * the method that returns the literal is never called. */
  private def literalConstant(m: MethodNode): Boolean = {
    val ops = m.instructions.iterator().asScala.map(_.getOpcode).filter(_ >= 0).toList
    Type.getArgumentTypes(m.desc).isEmpty && (ops match {
      case push :: ret :: Nil =>
        (push >= Opcodes.ACONST_NULL && push <= Opcodes.LDC) &&
          ret >= Opcodes.IRETURN && ret <= Opcodes.ARETURN
      case _ => false
    })
  }

  private def firstLine(m: MethodNode): Int = m.instructions.iterator().asScala.collectFirst {
    case l: LineNumberNode => l.line
  }.getOrElse(0)

  private def sourcePath(c: ClassNode): String = {
    val pkg = c.name.lastIndexOf('/') match { case -1 => ""; case i => c.name.take(i + 1) }
    s"src/main/scala/$pkg${Option(c.sourceFile).getOrElse("?")}"
  }

  /** `graft/Artifacts$Memo` → `Artifacts.Memo`. */
  def display(internal: String): String =
    internal.drop(internal.lastIndexOf('/') + 1).stripSuffix("$").replace('$', '.')
}
