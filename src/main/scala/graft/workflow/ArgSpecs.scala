package graft.workflow

/**
 * Operator argument descriptors — the semantics of the reference's
 * task parser (`/root/reference/src/oph_task_parser_library.c:430-560`
 * `oph_tp_validate_task_string_param`) over the descriptor model of
 * its XML files (`/root/reference/etc/xml/OPH_..._operator_1.0.xml`):
 * per-argument mandatory / value-list / int-or-real min/max, plus the
 * rule that an argument NOT in the descriptor is an error. Without
 * this layer a misspelled argument (`measures=` for `measure=`) is
 * silently ignored and the default used — the exact silent-wrong-
 * answer class the reference's parser exists to prevent.
 *
 * Checks run twice:
 *  - statically in `Workflow.validate` (unknown keys, missing
 *    mandatory, and value checks for literal values);
 *  - at execution in `runDataOperator` on the substituted values
 *    (enum / numeric range), since `@var` text is opaque until then.
 */
object ArgSpecs {

  final case class Arg(
      name: String,
      mandatory: Boolean = false,
      values: Seq[String] = Nil,
      isInt: Boolean = false,
      isReal: Boolean = false,
      min: Option[Double] = None,
      max: Option[Double] = None,
      /** '|'-separated lists allowed (each element checked alone). */
      multi: Boolean = false,
      /** The descriptor default (reference XML `default=` attribute).
        * Recorded for the server-native operators so the
        * XmlDescriptorGoldenSpec can pin field-level parity against
        * `/root/reference/etc/xml/OPH_*_operator_1.0.xml` — a drifted
        * default is a test failure, not a silent divergence. `-` and
        * empty string in the XML mean "unset". */
      default: Option[String] = None) {
    /** Shorthand: the same Arg with its descriptor default pinned. */
    def d(v: String): Arg = copy(default = Some(v))
  }

  final class ArgError(msg: String) extends Exception(msg)

  // descriptor shorthands
  private def a(n: String) = Arg(n)
  private def multi(n: String) = Arg(n, multi = true)
  private def mand(n: String) = Arg(n, mandatory = true)
  private def enum(n: String, vs: String*) = Arg(n, values = vs.toSeq)
  private def int(n: String, min: Long = Long.MinValue,
      max: Long = Long.MaxValue) =
    Arg(n, isInt = true,
      min = if (min == Long.MinValue) None else Some(min.toDouble),
      max = if (max == Long.MaxValue) None else Some(max.toDouble))

  private val yesNo = Seq("yes", "no")

  /** System parameters accepted on EVERY task (reference "[System
    * parameters]" sections + the fields the workflow engine injects:
    * dependency-routed cube args, massive-expansion src_path, the
    * grid/scheduling knobs). */
  val common: Set[String] = Set(
    "exec_mode", "ncores", "nthreads", "save", "cdd", "sessionid",
    "callback_url", "description", "run", "on_error", "on_exit",
    "output_format", "objkey_filter", "cube", "cube2", "cubes",
    "container", "cwd", "grid", "schedule", "check_grid")

  /** Arguments a dependency edge may inject at run time — their
    * `mandatory` is satisfied when the task HAS dependencies. */
  private val injectable = Set("cube", "cube2", "cubes", "src_path")

  /** A mandatory argument satisfied by a legacy alias the engine also
    * accepts (`src_path` may arrive as `input`, the reference's
    * OPH_IMPORTNC alternative). */
  private val aliases = Map("src_path" -> "input")

  private val subsetArgs = Seq(
    multi("subset_dims"), multi("subset_filter"),
    enum("subset_type", "index", "coord"),
    enum("time_filter", "yes", "no"), a("offset"))

  private val importArgs = Seq(
    mand("src_path").copy(multi = true), multi("input"), a("measure"),
    multi("exp_dim"), a("imp_dim"), a("exp_concept_level"),
    a("imp_concept_level"), a("hierarchy"), a("units"),
    a("calendar"), a("vocabulary"), enum("compressed", yesNo: _*),
    enum("base_time", Seq.empty: _*), a("ioserver"),
    a("nhost"), a("nfrag"), a("ndb"), a("ndbms"), a("host_partition"),
    enum("check_compliance", yesNo: _*), a("dim"), a("dim_pos"),
    // subset-at-import + attribute import (reference importnc surface)
    multi("subset_dims"), multi("subset_filter"),
    enum("subset_type", "index", "coord"), a("offset"),
    enum("import_metadata", yesNo: _*), enum("time_conversion", yesNo: _*))

  /** Per-operator descriptors. An operator absent from this map skips
    * validation (the engine rejects unknown operators itself). */
  val specs: Map[String, Seq[Arg]] = Map(
    // ---------------------------------------------------- flow control
    // `etc/xml/OPH_FOR_operator_1.0.xml` marks `key` mandatory, but the
    // impl (`oph_for_impl`, golden-ported) runs a single default
    // iteration without it — the impl behavior wins here
    "oph_for" -> Seq(a("key"), multi("values").d("-"),
      a("counter").d("-"), enum("parallel", yesNo: _*).d("no"),
      multi("src_path").d("-"), multi("input").d("-")),
    "oph_endfor" -> Seq.empty,
    // `etc/xml/OPH_IF_operator_1.0.xml`
    "oph_if" -> Seq(a("condition").d("true"),
      enum("forward", yesNo: _*).d("no")),
    "oph_elseif" -> Seq(a("condition").d("true")),
    "oph_else" -> Seq.empty,
    "oph_endif" -> Seq.empty,
    // `etc/xml/OPH_SET_operator_1.0.xml`
    "oph_set" -> Seq(multi("key").d("-"), multi("keys").d("-"),
      multi("value").d("-"),
      enum("subset_filter", "yes", "no", "real").d("no"),
      Arg("offset", isReal = true, min = Some(0)).d("1"),
      int("id", min = 0).d("@OPH_WORKFLOW_ID")),
    // `etc/xml/OPH_WAIT_operator_1.0.xml`
    "oph_wait" -> Seq(enum("type", "clock", "input", "file").d("clock"),
      a("timeout").d("-1"),
      enum("timeout_type", "duration", "deadline").d("duration"),
      multi("key").d("-"), multi("value").d("-"), a("filename").d("-"),
      a("fileref").d("-"), a("measure").d("-"), a("output").d("-"),
      a("message").d("-"),
      // wait-specific subset shapes (per-dimension multivalue lists,
      // real offset) — richer than the shared subsetArgs
      multi("subset_dims").d("none"),
      enum("subset_type", "index", "coord").copy(multi = true).d("index"),
      multi("subset_filter").d("all"),
      enum("time_filter", "yes", "no").d("yes"),
      Arg("offset", isReal = true, multi = true).d("0")),
    // `etc/xml/OPH_INPUT_operator_1.0.xml`
    "oph_input" -> Seq(int("id", min = 0).d("@OPH_WORKFLOW_ID"),
      a("taskname").d("Task 0"),
      enum("action", "continue", "abort", "wait").d("continue"),
      multi("key").d("-"), multi("value").d("-")),

    // ------------------------------------------------------ management
    // `etc/xml/OPH_CANCEL_operator_1.0.xml`
    // id defaults to the CURRENT workflow (engine-side self-cancel)
    "oph_cancel" -> Seq(int("id", min = 1),
      enum("type", "kill", "abort", "stop").d("kill")),
    // `etc/xml/OPH_MANAGE_SESSION_operator_1.0.xml` (grantee/role carry
    // the grant/revoke payload in this engine's surface)
    "oph_manage_session" -> Seq(
      enum("action", "disable", "enable", "env", "grant", "list",
        "listusers", "new", "remove", "revoke", "setenv").d("list"),
      a("session").d("this"),
      enum("key", "active", "autoremove", "label", "user").d("user"),
      a("value").d("null"), a("label"), a("grantee"), a("role"),
      a("user")),
    // `etc/xml/OPH_LOG_INFO_operator_1.0.xml`
    "oph_log_info" -> Seq(
      enum("log_type", "server", "container", "ioserver").d("server"),
      int("container_id", min = 0).d("0"), a("ioserver").d("mysql"),
      int("nlines", min = 1, max = 10000).d("10")),
    // `etc/xml/OPH_CLUSTER_operator_1.0.xml`
    "oph_cluster" -> Seq(a("host_partition").d("all"),
      enum("action", "info", "info_cluster", "deploy", "undeploy")
        .d("info"),
      int("nhost", min = 0).d("0"), a("user_filter").d("all"),
      enum("host_type", "io", "compute").d("io")),
    // `etc/xml/OPH_GET_CONFIG_operator_1.0.xml`
    "oph_get_config" -> Seq(enum("key", "all", "OPH_XML_URL",
      "OPH_SESSION_ID", "OPH_EXEC_MODE", "OPH_NCORES", "OPH_DATACUBE",
      "OPH_CWD", "OPH_CDD", "OPH_BASE_SRC_PATH").d("all")),
    // `etc/xml/OPH_RESUME_operator_1.0.xml`
    // `id` is an integer OR the token values "last"/"all"
    // (`src/oph_parser.h:160-161`) — `SessionService.resumeRequest`
    // parses it itself
    "oph_resume" -> Seq(a("session").d("this"), a("id").d("0"),
      enum("id_type", "workflow", "marker").d("workflow"),
      enum("document_type", "request", "response").d("response"),
      int("level", min = 0, max = 5)
        .copy(values = Seq("0", "1", "2", "3", "4", "5")).d("1"),
      a("user").d(""),
      a("status_filter").d("11111111"),
      enum("execute", yesNo: _*).d("no"), a("checkpoint").d("all")),
    // `etc/xml/OPH_SERVICE_operator_1.0.xml`
    "oph_service" -> Seq(enum("status", "up", "down").d(""),
      int("level", min = 1, max = 2).copy(values = Seq("1", "2")).d("1"),
      multi("enable").d("none"), multi("disable").d("none")),

    // --------------------------------------------------- sources / DDL
    "oph_importnc" -> importArgs, "oph_importnc2" -> importArgs,
    "oph_importncs" -> importArgs,
    "oph_importcsv" -> (importArgs :+ enum("header", yesNo: _*)),
    "oph_concatnc" -> Seq(mand("src_path").copy(multi = true),
      a("measure"), a("dim_offset"), enum("check_exp_dim", yesNo: _*)),
    "oph_concatnc2" -> Seq(mand("src_path").copy(multi = true),
      a("measure"), a("dim_offset"), enum("check_exp_dim", yesNo: _*)),
    "oph_randcube" -> Seq(int("nrows", min = 1),
      int("array_length", min = 1),
      int("dim_size", min = 1).copy(multi = true), a("seed"),
      a("measure"), a("dim"), a("host_partition"), a("nfrag"),
      a("ntuple"), enum("compressed", yesNo: _*)),
    "oph_randcube2" -> Seq(int("nrows", min = 1),
      int("array_length", min = 1),
      int("dim_size", min = 1).copy(multi = true), a("seed"),
      a("measure"), a("dim"), a("host_partition"), a("nfrag"),
      a("ntuple"), enum("compressed", yesNo: _*)),
    "oph_createcontainer" -> Seq(multi("dim"), a("dim_type"),
      a("hierarchy"), a("base_time"), a("units"), a("calendar"),
      enum("compressed", yesNo: _*), a("vocabulary")),
    "oph_deletecontainer" -> Seq(enum("force", yesNo: _*),
      enum("delete_type", "logical", "physical")),
    "oph_restorecontainer" -> Seq.empty,
    // `dest` is the engine's alias of `container_output`; one of the
    // two is required, which the operator checks
    "oph_movecontainer" -> Seq(mand("container"), a("container_output"),
      a("dest"), a("cwd")),
    "oph_delete" -> Seq.empty,
    "oph_folder" -> Seq(enum("command", "cd", "mkdir", "rm", "mv", "ls"),
      a("path"), a("dest")),
    "oph_fs" -> Seq(enum("command", "ls", "cd", "mkdir", "rm", "mv"),
      a("path"), a("dest"), a("dpath"), a("file"), a("measure"),
      enum("recursive", yesNo: _*), int("depth", min = 0),
      enum("realpath", yesNo: _*)),
    "oph_list" -> Seq(int("level", min = 0, max = 9), a("path"),
      enum("recursive", yesNo: _*), a("container_filter"), a("cube"),
      a("measure_filter"), int("depth", min = 0), a("src_filter")),
    "oph_search" -> Seq(a("path"), a("container_filter"),
      a("metadata_key_filter"), a("metadata_value_filter"),
      a("measure_filter"), enum("recursive", yesNo: _*)),
    "oph_find" -> Seq(a("path"), a("container_filter"),
      a("metadata_key_filter"), a("metadata_value_filter"),
      a("measure_filter"), enum("recursive", yesNo: _*)),
    // public OPH_B2DROP semantics (WebDAV drop with netrc credentials);
    // `server` names the share (http(s) URL or local drop directory)
    "oph_b2drop" -> Seq(enum("action", "put", "get", "delete"),
      a("src_path"), a("dest_path"), a("auth_path"), mand("server")),
    "oph_publish" -> Seq(a("output_path"), a("content"),
      enum("show_index", yesNo: _*), enum("show_id", yesNo: _*),
      enum("show_time", yesNo: _*)),
    "oph_unpublish" -> Seq.empty,
    "oph_exportcsv" -> Seq(mand("output_path"), a("output_name"),
      enum("export_metadata", yesNo: _*)),
    "oph_exportnc" -> Seq(mand("output_path"), a("output_name"),
      enum("export_metadata", yesNo: _*), enum("force", yesNo: _*),
      enum("fletcher32", yesNo: _*), enum("shuffle", yesNo: _*),
      a("misc")),
    "oph_exportnc2" -> Seq(mand("output_path"), a("output_name"),
      enum("export_metadata", yesNo: _*), enum("force", yesNo: _*),
      enum("fletcher32", yesNo: _*), enum("shuffle", yesNo: _*),
      a("misc")),

    // ------------------------------------------------------ transforms
    "oph_subset" -> subsetArgs, "oph_subset2" -> subsetArgs,
    "oph_reduce" -> Seq(
      enum("operation", "count", "sum", "avg", "max", "min", "var",
        "std", "quantile", "median", "rmoment", "armoment", "cmoment",
        "acmoment", "arg_max", "arg_min", "argmax", "argmin"),
      int("group_size", min = 1), a("dim"), a("order"),
      a("missingvalue")),
    "oph_reduce2" -> Seq(
      enum("operation", "count", "sum", "avg", "max", "min", "var",
        "std", "quantile", "median", "rmoment", "armoment", "cmoment",
        "acmoment", "arg_max", "arg_min", "argmax", "argmin"),
      int("group_size", min = 1), a("dim"), a("order"),
      a("missingvalue")),
    "oph_aggregate" -> Seq(
      enum("operation", "count", "sum", "avg", "max", "min", "var", "std"),
      multi("group_by"), a("dim"), a("concept_level"), a("hierarchy"),
      a("missingvalue")),
    "oph_aggregate2" -> Seq(
      enum("operation", "count", "sum", "avg", "max", "min", "var", "std"),
      multi("group_by"), a("dim"), a("concept_level"), a("hierarchy"),
      a("missingvalue")),
    // query has an engine-side default ("measure", the identity apply)
    "oph_apply" -> Seq(a("query"), a("dim_query"), a("measure"),
      a("measure_type"), a("dim_type"), enum("check_type", yesNo: _*),
      enum("on_reduce", "update", "skip"), enum("compressed", yesNo: _*)),
    "oph_intercube" -> Seq(
      enum("operation", "sum", "sub", "mul", "div", "abs", "corr"),
      a("output_measure"), a("missingvalue")),
    "oph_intercube2" -> Seq(
      enum("operation", "sum", "sub", "mul", "div", "abs", "corr",
        "avg", "max", "min"),
      a("output_measure"), a("missingvalue")),
    "oph_mergecubes" -> Seq(enum("mode", "i", "a"), a("hold_values"),
      a("number")),
    "oph_mergecubes2" -> Seq(enum("mode", "i", "a"), a("dim"),
      a("dim_type"), a("number")),
    "oph_duplicate" -> Seq.empty,
    "oph_merge" -> Seq(int("nmerge", min = 0)),
    "oph_split" -> Seq(int("nsplit", min = 1)),
    "oph_permute" -> Seq(multi("permutation"), multi("permutation_order")),
    "oph_permute2" -> Seq(multi("permutation"), multi("permutation_order")),
    // ndim accepts a count OR a dimension name in this engine
    "oph_rollup" -> Seq(a("ndim")),
    "oph_drilldown" -> Seq(a("ndim")),

    // ------------------------------------------------------ inspection
    "oph_cubeschema" -> Seq(a("action"), multi("dim"), a("level"),
      enum("base64", yesNo: _*)),
    "oph_cubesize" -> Seq(int("byte_unit", min = 0), a("algorithm")),
    "oph_cubeelements" -> Seq(a("algorithm")),
    "oph_cubeio" -> Seq(a("branch")),
    "oph_explorecube" -> (Seq(int("limit_filter", min = 0),
      enum("show_index", yesNo: _*), enum("show_id", yesNo: _*),
      enum("show_time", yesNo: _*), enum("base64", yesNo: _*),
      int("level", min = 1), a("output_path"), a("output_name"),
      enum("export_metadata", yesNo: _*)) ++ subsetArgs),
    "oph_explorenc" -> Seq(mand("src_path"), a("measure"),
      int("limit_filter", min = 0), a("exp_dim"), a("imp_dim"),
      a("level"), enum("show_index", yesNo: _*),
      enum("show_time", yesNo: _*), a("stats_mask"), a("show_stats"),
      enum("show_fit", yesNo: _*), enum("wavelet", "yes", "no", "only"),
      int("wavelet_coeff", min = 1),
      enum("wavelet_family", "haar", "db4", "db6", "db8",
        "daubechies4", "daubechies6", "daubechies8", "daubechies"),
      a("dim")),
    "oph_inspectfrag" -> Seq(a("frag_id"), int("limit", min = 1),
      a("level")),
    "oph_metadata" -> Seq(
      enum("mode", "insert", "read", "update", "delete"),
      multi("metadata_key"), a("metadata_id"), multi("metadata_value"),
      a("variable"), a("metadata_type"), a("metadata_type_filter"),
      a("metadata_value_filter"), enum("force", yesNo: _*)),
    "oph_showgrid" -> Seq(a("grid_name"), multi("dim"),
      enum("show_index", yesNo: _*)),
    "oph_hierarchy" -> Seq(a("hierarchy"), a("hierarchy_version")),
    "oph_man" -> Seq(mand("function"), a("function_version"),
      enum("function_type", "operator", "primitive")),
    "oph_operators_list" -> Seq(a("operator_filter"), a("limit_filter")),
    "oph_primitives_list" -> Seq(a("primitive_filter"), a("level"),
      a("limit_filter"), a("dbms_filter"), a("return_type"),
      a("primitive_type")),
    // script defaults to the no-op "true" like the reference operator
    "oph_script" -> Seq(a("script"), a("args"), a("stdout"),
      a("stderr"), a("space"), enum("list", yesNo: _*)),
    "oph_instances" -> Seq(a("host_partition"), a("ioserver_filter"),
      int("level", min = 1, max = 3), a("host_status")),
    "oph_tasks" -> Seq(a("mask"), a("container"), a("operator_filter"),
      a("path")),
    "oph_loggingbk" -> Seq(a("session_level"), a("job_level"),
      a("mask"), a("session_filter"), a("session_label_filter"),
      a("session_creation_filter"), a("workflowid_filter"),
      a("markerid_filter"), a("parent_job_filter"),
      a("job_creation_filter"), a("job_status_filter"),
      a("submission_string_filter"), a("job_start_filter"),
      a("job_end_filter"), int("nlines", min = 1)),
    "oph_sql" -> Seq(mand("query")))

  /** One argument's value check (enum + numeric domain), reference
    * `oph_tp_validate_task_string_param`. Values containing workflow
    * substitution (`@`, `&`) are deferred to run time. */
  private def checkValue(op: String, spec: Arg, raw: String): Unit = {
    if (raw.contains('@') || raw.contains('&')) return
    val parts = if (spec.multi) raw.split('|').toSeq else Seq(raw)
    parts.foreach { v =>
      if (spec.values.nonEmpty && !spec.values.contains(v))
        throw new ArgError(s"$op: argument '${spec.name}' value '$v' not " +
          s"in [${spec.values.mkString("|")}]")
      if (spec.isInt || spec.isReal) {
        val n = if (spec.isInt) v.toLongOption.map(_.toDouble)
          else v.toDoubleOption
        n match {
          case None => throw new ArgError(
            s"$op: argument '${spec.name}' value '$v' is not " +
              (if (spec.isInt) "an integer" else "a number"))
          case Some(x) =>
            spec.min.foreach(m => if (x < m) throw new ArgError(
              s"$op: argument '${spec.name}' value '$v' below minimum ${m.toLong}"))
            spec.max.foreach(m => if (x > m) throw new ArgError(
              s"$op: argument '${spec.name}' value '$v' above maximum ${m.toLong}"))
        }
      }
    }
  }

  /**
   * Validate one task's arguments against its operator descriptor.
   * `hasDeps`: dependency edges may inject cube-carrying args, so
   * their mandatory bit is satisfied by the edge itself.
   * `checkValues`: enum / numeric-domain checks — the static pass
   * leaves these off (values may still hold `@var` text, and flow-op
   * impls own their golden value errors); `runDataOperator` turns
   * them on for the substituted values.
   * No-op for operators without a descriptor.
   */
  def validate(operator: String, args: Map[String, String],
      hasDeps: Boolean, checkValues: Boolean = false): Unit = {
    val op = operator.toLowerCase
    specs.get(op).foreach { spec =>
      val known = spec.map(_.name).toSet ++ common
      args.keys.find(k => !known.contains(k)).foreach { k =>
        val hint = known.toSeq.sortBy(c =>
          -c.zip(k).count { case (x, y) => x == y }).headOption
          .filter(c => math.abs(c.length - k.length) <= 2)
        throw new ArgError(s"$op: unknown argument '$k'" +
          hint.map(h => s" (did you mean '$h'?)").getOrElse(""))
      }
      spec.foreach { s =>
        args.get(s.name) match {
          case Some(v) => if (checkValues) checkValue(op, s, v)
          case None =>
            if (s.mandatory && !(hasDeps && injectable.contains(s.name)) &&
                !aliases.get(s.name).exists(args.contains))
              throw new ArgError(
                s"$op: missing mandatory argument '${s.name}'")
        }
      }
    }
  }
}
