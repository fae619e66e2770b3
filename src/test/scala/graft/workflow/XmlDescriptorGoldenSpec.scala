package graft.workflow

import org.scalatest.funsuite.AnyFunSuite

/**
 * Field-level parity of [[ArgSpecs]] against the 17 reference operator
 * descriptors (`/root/reference/etc/xml/OPH_*_operator_1.0.xml`) — the
 * same golden-port pattern as FilterGoldenSpec for the SQL filters:
 * the reference file is parsed HERE, in the test, so a drifted
 * mandatory bit / enum list / min-max bound / default in ArgSpecs is a
 * failure instead of a silent divergence (r14 verdict gap #3).
 *
 * Deliberate deviations are PINNED in [[deviations]] with their reason;
 * anything unpinned must match the XML exactly. System parameters the
 * engine handles globally (save/sessionid/objkey_filter/exec_mode/
 * ncores) must appear in ArgSpecs.common instead of per-operator.
 */
class XmlDescriptorGoldenSpec extends AnyFunSuite {

  private val xmlDir = java.nio.file.Paths.get("/root/reference/etc/xml")

  /** One parsed XML argument row. */
  private case class XArg(name: String, typ: String, mandatory: Boolean,
      default: Option[String], values: Option[Seq[String]],
      min: Option[Double], max: Option[Double], multi: Boolean)

  private def parse(p: java.nio.file.Path): (String, Seq[XArg]) = {
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replaceAll("<!DOCTYPE[^>]*>", "") // no DTD resolution in a test
    val root = scala.xml.XML.loadString(text)
    val op = (root \ "@name").text.toLowerCase
    val args = (root \ "args" \ "argument").map { n =>
      XArg(
        name = n.text.trim,
        typ = n.attribute("type").map(_.text).getOrElse("string"),
        mandatory = n.attribute("mandatory").exists(_.text == "yes"),
        default = n.attribute("default").map(_.text),
        values = n.attribute("values").map(_.text.split('|').toSeq),
        min = n.attribute("minvalue").map(_.text.toDouble),
        max = n.attribute("maxvalue").map(_.text.toDouble),
        multi = n.attribute("multivalue").exists(_.text == "yes"))
    }
    (op, args)
  }

  /** Arguments the engine treats as request-global (every task accepts
    * them; per-operator objkey enumerations collapse into the generic
    * filter). They must live in ArgSpecs.common. */
  private val systemArgs = Set("save", "sessionid", "objkey_filter",
    "exec_mode", "ncores")

  /** Pinned impl-vs-descriptor deviations: (operator, argument, field)
    * -> reason. A deviation suppresses exactly ONE field check; every
    * other field of the same argument still golden-checks. */
  private val deviations: Map[(String, String, String), String] = Map(
    ("oph_for", "key", "mandatory") ->
      ("XML marks key mandatory; oph_for_impl runs a single default " +
        "iteration without it (golden-ported in FlowControlGoldenSpec) " +
        "— the impl behavior wins, see the ArgSpecs comment"),
    ("oph_cancel", "id", "mandatory") ->
      ("XML marks id mandatory; this engine defaults it to the " +
        "submitting workflow (self-cancel), matching the reference's " +
        "in-workflow usage"),
    ("oph_resume", "id", "type") ->
      ("XML types id as int, but the operator parses it itself to " +
        "honor the last/all tokens (src/oph_parser.h:160-161)"),
    ("oph_resume", "id", "default") ->
      "string '0' here (the id carries last/all tokens too)",
    ("oph_resume", "id", "min") ->
      "min enforced by the operator's own token parse, not ArgSpecs",
    ("oph_wait", "timeout", "type") ->
      ("XML types timeout as int; timeout_type=deadline accepts " +
        "timestamp strings in this engine so the field stays opaque " +
        "to the descriptor layer"),
    ("oph_log_info", "ioserver", "values") ->
      ("XML pins values=mysql (the reference's only I/O server); the " +
        "backend here is Spark, so the name passes through unchecked"),
    ("oph_log_info", "ioserver", "default") ->
      "default recorded as mysql for display parity only")

  private def dev(op: String, arg: String, field: String): Boolean =
    deviations.contains((op, arg, field))

  /** Without the reference checkout the suite still constructs: the
    * presence test below then fails, naming the missing directory. */
  private val present = java.nio.file.Files.isDirectory(xmlDir)

  private val files = if (!present) Nil else {
    val s = java.nio.file.Files.list(xmlDir)
    try {
      val l = s.filter(_.getFileName.toString.endsWith(".xml"))
        .sorted().iterator()
      val b = Seq.newBuilder[java.nio.file.Path]
      while (l.hasNext) b += l.next()
      b.result()
    } finally s.close()
  }

  test("all 17 reference descriptors are present") {
    if (!present) fail(s"reference descriptor directory $xmlDir is missing")
    assert(files.size == 17, files.map(_.getFileName).mkString(", "))
  }

  if (present) test("OPH_MASSIVE argument names match MassiveFilter.knownKeys") {
    val (op, args) = parse(xmlDir.resolve("OPH_MASSIVE_operator_1.0.xml"))
    assert(op == "oph_massive")
    val xmlKeys = args.map(_.name).filterNot(systemArgs).toSet
    assert(xmlKeys == graft.core.MassiveFilter.knownKeys,
      s"xml-only: ${xmlKeys -- graft.core.MassiveFilter.knownKeys}, " +
        s"engine-only: ${graft.core.MassiveFilter.knownKeys -- xmlKeys}")
  }

  for (f <- files if !f.getFileName.toString.startsWith("OPH_MASSIVE")) {
    val (op, xargs) = parse(f)
    test(s"$op arguments match ${f.getFileName}") {
      val spec = ArgSpecs.specs.getOrElse(op,
        fail(s"no ArgSpecs entry for $op"))
      val byName = spec.map(s => s.name -> s).toMap
      xargs.foreach { x =>
        // request-global arguments (run, save, ...) are accepted on
        // every task via ArgSpecs.common instead of per-operator
        if (systemArgs(x.name) ||
            (!byName.contains(x.name) && ArgSpecs.common(x.name))) {
          assert(ArgSpecs.common.contains(x.name),
            s"$op: system arg ${x.name} missing from ArgSpecs.common")
        } else {
          val arg = byName.getOrElse(x.name,
            fail(s"$op: XML argument '${x.name}' not in ArgSpecs"))
          if (!dev(op, x.name, "mandatory"))
            assert(arg.mandatory == x.mandatory,
              s"$op.${x.name}: mandatory ${arg.mandatory} vs XML ${x.mandatory}")
          if (!dev(op, x.name, "values"))
            assert(arg.values.toSet ==
              x.values.map(_.toSet).getOrElse(Set.empty[String]),
              s"$op.${x.name}: values ${arg.values} vs XML ${x.values}")
          if (!dev(op, x.name, "type")) {
            assert(arg.isInt == (x.typ == "int"),
              s"$op.${x.name}: isInt ${arg.isInt} vs XML type ${x.typ}")
            assert(arg.isReal == (x.typ == "real"),
              s"$op.${x.name}: isReal ${arg.isReal} vs XML type ${x.typ}")
          }
          if (!dev(op, x.name, "min"))
            assert(arg.min == x.min,
              s"$op.${x.name}: min ${arg.min} vs XML ${x.min}")
          if (!dev(op, x.name, "max"))
            assert(arg.max == x.max,
              s"$op.${x.name}: max ${arg.max} vs XML ${x.max}")
          if (!dev(op, x.name, "default")) {
            // XML '-'/'' both mean unset; ArgSpecs records them
            // verbatim when pinned, None when genuinely absent
            val xmlD = x.default
            val specD = arg.default
            assert(specD == xmlD || (specD.isEmpty &&
              xmlD.exists(d => d == "-" || d.isEmpty)),
              s"$op.${x.name}: default $specD vs XML $xmlD")
          }
          if (!dev(op, x.name, "multi"))
            assert(arg.multi == x.multi,
              s"$op.${x.name}: multi ${arg.multi} vs XML ${x.multi}")
        }
      }
    }
  }
}
