package graft.queries

import java.nio.file.{Files, Paths}
import graft.{QueryDef, Tables}
import graft.operators.{Merge, Scd2}
import graft.sources.DeltaLite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Medallion architecture + Delta-semantics surface (SURVEY.md §2.1 S2-S9)
  * — the heart of the reference: dbt models materialized over Delta Lake
  * in bronze → silver → gold layers (`/root/reference/README.md:2`).
  * [[Pipeline]] is the dbt-DAG analogue (each model a pure
  * `(SparkSession, dir) => DataFrame`, the DAG explicit function
  * composition — SURVEY §3 EP1); the queries exercise every
  * source/sink/storage operator through it.
  *
  * Sink queries write to fresh per-invocation temp dirs and read their own
  * output back, so the declared result is a pure function of the fixtures
  * — which is what makes write-path operators DuckDB-oracle-checkable
  * (the oracle states the equivalent derivation from the inputs).
  */
object Medallion {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)
  private def tmp(tag: String): String = graft.TempDirs.fresh(tag)

  /** The dbt-style model DAG (bronze → silver → gold). */
  object Pipeline {
    /** bronze: raw ingest, no cleaning (schema-on-read from parquet). */
    def bronzeEvents(s: SparkSession, dir: String): DataFrame =
      Tables.t(s, dir, "events")

    /** silver: typed (ns→µs→s timestamps), deduped on the business key,
      * null-guarded — the conformance layer. */
    def silverEvents(s: SparkSession, dir: String): DataFrame =
      bronzeEvents(s, dir)
        .withColumn("ts_sec", date_trunc("second", col("ts")))
        .dropDuplicates("event_id")
        .filter(col("event_type").isNotNull && col("value").isNotNull)

    /** gold: daily revenue mart from the fact table. */
    def goldDailyRevenue(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(expr("round((sum(l_extendedprice * (1 - l_discount)))*100)/100").as("revenue"),
          count(lit(1)).as("n_items"))

    /** gold: daily event activity mart from silver. */
    def goldDailyEvents(s: SparkSession, dir: String): DataFrame =
      silverEvents(s, dir)
        .groupBy(col("ts_sec").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(value))*100)/100").as("sum_value"))

    /** A dbt model node: name + upstream `ref()`s + the transform. The
      * build function receives a resolver that reads an upstream model's
      * MATERIALIZED DeltaLite table (dbt's ref() contract — downstream
      * models consume what was written, not a re-derivation, so each
      * model's lineage is the actual stored bytes). `code` is the
      * model's logic text — the analogue of dbt's checksum over the SQL
      * file — and is what state-based selection fingerprints; editing a
      * model means changing its `code` (and build) together. */
    final case class Model(name: String, deps: Seq[String],
        build: (SparkSession, String => DataFrame) => DataFrame,
        code: String = "", contract: Option[Contract] = None,
        preHooks: Seq[String] = Nil, postHooks: Seq[String] = Nil,
        version: Option[Int] = None, latestVersion: Option[Int] = None,
        deprecationDate: Option[String] = None,
        group: Option[String] = None, access: String = "protected",
        tags: Seq[String] = Nil,
        grants: Option[Map[String, String]] = None,
        buildV: Option[(SparkSession, String => DataFrame,
          String => String) => DataFrame] = None,
        /** dbt records each node's `language` ("sql" / "python") in
          * manifest.json; the engine-idiomatic twin of dbt-duckdb's
          * PYTHON MODELS is a `"scala"` model — authored as the build
          * FUNCTION itself (imperative DataFrame code with loops and
          * branches, `ref()` via the resolver — exactly dbt's
          * `def model(dbt, session)` contract), materialized as a
          * table like dbt requires of Python models, and fingerprinted
          * by its `code` text (dbt checksums the .py file the same
          * way: the AUTHOR keeps code text and function in sync — the
          * same contract every sql-language model here already has).
          * Everything else (contracts, hooks, versions, groups,
          * grants, state:modified+, exposures) applies unchanged. */
        language: String = "sql") {
      require(language == "sql" || language == "scala",
        s"model $name: unsupported language '$language'")
      require(language != "scala" || code.nonEmpty,
        s"model $name: a scala-language (function) model needs its " +
          "code text — state:modified+ has nothing to checksum otherwise")
    }

    /** dbt `grants:`-style governance config: the model declares its
      * materialized table's S63 policy surface (graft.rowFilter,
      * graft.mask.<col>, graft.maskExempt.<col>, graft.rowFilterExempt,
      * graft.roles.<role>) as config, and every materialization compiles
      * it onto the target's TBLPROPERTIES — so the policy lives in the
      * project (reviewed, versioned, deployed with the model), not in
      * hand-edited table state. Semantics follow dbt grants exactly:
      * the declared config is AUTHORITATIVE — each run applies the
      * declared keys and REVOKES governance keys no longer declared
      * (revocation by omission; dbt computes the same show-grants diff).
      * `None` (the default) means UNMANAGED — a run never touches the
      * table's governance properties, so policy set out-of-band (an
      * admin's `setProperties`) survives rebuilds; `Some(Map.empty)` is
      * the explicit "managed and empty" declaration that revokes
      * everything. The distinction matters: a fail-open default
      * treating "no config" as "revoke all" would strip an admin's
      * policy on the next rebuild (found by review). Keys outside the
      * governance namespace are rejected at declaration — the predicate
      * is [[graft.sources.DeltaLite.isGovernanceKey]], owned beside the
      * enforcement it describes, so a future policy key cannot drift
      * between declaration and revocation. Grants ride the model
      * FINGERPRINT: under `state:modified+` a config-only edit rebuilds
      * (and re-syncs) exactly the models whose policy changed. Cost is
      * pure metadata: a no-change sync reads one snapshot and commits
      * nothing. */
    private[graft] def syncGrants(path: String,
        declared: Map[String, String]): Unit = {
      val D = graft.sources.DeltaLite
      declared.keys.find(!D.isGovernanceKey(_)).foreach(k =>
        throw new IllegalArgumentException(s"grants config key '$k' is " +
          "not a governance property (graft.rowFilter / graft.mask.* / " +
          "graft.maskExempt.* / graft.rowFilterExempt / graft.roles.*)"))
      val current = D.snapshot(path).properties.filter {
        case (k, _) => D.isGovernanceKey(k)
      }
      // revocation by omission: a key the config no longer declares is
      // dropped — EXCEPT mask keys a live rowFilter/exemption still
      // references are fine to drop (masks and filters are independent)
      (current.keySet -- declared.keySet).toSeq.sorted
        .foreach(D.unsetProperty(path, _))
      val changed = declared.filter { case (k, v) => !current.get(k).contains(v) }
      if (changed.nonEmpty) D.setProperties(path, changed)
    }

    /** dbt MODEL VERSIONS (`versions:` config): a versioned model is
      * one Model entry PER VERSION, all sharing `name`. Node identity
      * is `name.vN` (dbt's `model.<project>.<name>.vN` unique-id tail),
      * the materialized table is `name_vN` (dbt's default versioned
      * alias), and a ref string may be:
      *  - `"name"`    → the family's LATEST version — declared
      *                  `latestVersion`, else the highest `version`
      *                  (dbt's latest_version default) — so consumers
      *                  FLOAT across migrations;
      *  - `"name.vN"` → PINNED to version N (dbt `ref('name', v=N)`);
      *  - an unversioned model's plain name (unchanged behavior).
      * `deprecationDate` mirrors dbt's `deprecation_date`: a ref
      * resolving to a non-latest or deprecated version surfaces a
      * warning in run_results.json, and the date rides manifest.json —
      * the governance trail that lets a 100-model mart evolve v1→v2
      * with pinned consumers migrating on their own schedule. */
    def nodeId(m: Model): String =
      m.version.map(v => s"${m.name}.v$v").getOrElse(m.name)

    /** Materialized table name under the target dir (dbt's default
      * versioned alias `<name>_v<N>`). */
    def tableName(m: Model): String =
      m.version.map(v => s"${m.name}_v$v").getOrElse(m.name)

    private def latestOf(family: Seq[Model]): Model = {
      val declared = family.flatMap(_.latestVersion).distinct
      require(declared.size <= 1, s"model ${family.head.name}: " +
        s"conflicting latest_version declarations (${declared.mkString(", ")})")
      val latestV = declared.headOption.getOrElse(family.flatMap(_.version).max)
      family.find(_.version.contains(latestV)).getOrElse(
        throw new IllegalArgumentException(s"model ${family.head.name}: " +
          s"latest_version $latestV is not a declared version"))
    }

    /** Resolve a ref string against the model set (see [[nodeId]]):
      * exact node id (unversioned name or pinned `name.vN`) first,
      * else the versioned family's latest. */
    def resolveRef(models: Seq[Model], d: String): Model =
      models.find(m => nodeId(m) == d).getOrElse {
        val family = models.filter(m => m.name == d && m.version.isDefined)
        require(family.nonEmpty, s"ref '$d' matches no model")
        latestOf(family)
      }

    /** dbt's deprecation + version-pin warnings for a model set — the
      * `dbt parse` console output, persisted into run_results.json. */
    private def versionWarnings(models: Seq[Model]): Seq[String] =
      models.flatMap { m =>
        m.deps.flatMap { d =>
          val t = resolveRef(models, d)
          if (t.version.isEmpty) Nil
          else {
            val latest = latestOf(models.filter(x =>
              x.name == t.name && x.version.isDefined))
            val stale =
              if (nodeId(t) != nodeId(latest))
                Seq(s"model ${nodeId(m)} depends on ${nodeId(t)}, which is " +
                  s"not the latest version (${nodeId(latest)})")
              else Nil
            val dep = t.deprecationDate
              .filter(_ <= java.time.LocalDate.now().toString)
              .map(dd => s"model ${nodeId(m)} depends on ${nodeId(t)}, " +
                s"deprecated since $dd").toSeq
            stale ++ dep
          }
        }
      }

    /** dbt model CONTRACT (`contract: {enforced: true}`): the declared
      * output schema is a hard interface — the build's actual schema must
      * match EXACTLY (same column set, same types; order-insensitive,
      * like dbt's contract checker) or the model errors WITHOUT
      * materializing, so a breaking change can never reach downstream
      * consumers. `notNull` columns become DeltaLite CHECK constraints on
      * the target (dbt maps `constraints: [not_null]` to warehouse
      * column constraints the same way), so enforcement then rides EVERY
      * later write path — append, merge, replaceWhere — not just the
      * model run that declared it. Schema checks are pure metadata (zero
      * data reads at any scale); the not-null gate is the write path's
      * own constraint scan, which at 100 TB touches only the rows being
      * written. */
    final case class Contract(columns: Seq[(String, String)],
        notNull: Seq[String] = Nil) {
      notNull.foreach(c => require(columns.exists(_._1 == c),
        s"contract not_null column '$c' is not a declared column"))
    }

    private[graft] def enforceContract(model: String, c: Contract,
        schema: org.apache.spark.sql.types.StructType): Unit = {
      val actual = schema.fields.map(f =>
        f.name -> f.dataType.simpleString).toMap
      val declared = c.columns.toMap
      val missing = (declared.keySet -- actual.keySet).toSeq.sorted
      val extra = (actual.keySet -- declared.keySet).toSeq.sorted
      require(missing.isEmpty && extra.isEmpty,
        s"CONTRACT_VIOLATION model=$model: schema shape differs from the " +
          s"enforced contract (missing=$missing extra=$extra)")
      c.columns.foreach { case (n, t) =>
        require(actual(n) == t, s"CONTRACT_VIOLATION model=$model " +
          s"column=$n: contract declares $t, build produced ${actual(n)}")
      }
    }

    /** dbt pre-/post-hook rendering: the one template variable that
      * matters operationally is `{{ this }}` — the model's own target
      * relation. Rendered to the target PATH (hook text supplies its own
      * quoting, matching the lake's quoted-path DML grammar). */
    private[graft] def renderHook(hook: String, path: String): String =
      hook.replaceAll("""\{\{\s*this\s*\}\}""",
        java.util.regex.Matcher.quoteReplacement(path))

    /** dbt `vars` / `env_var` templating (`{{ var('name') }}`,
      * `{{ var('name', 'default') }}`, `{{ env_var('NAME') }}`,
      * `{{ env_var('NAME', 'default') }}`) over a model's code text.
      * Resolution order matches dbt: the invocation's merged var map
      * (CLI `--vars` over project `vars:`, merged by the CALLER — last
      * write wins) for `var()`, the process environment for
      * `env_var()`; a reference with no binding and no default is a
      * COMPILE error (dbt's "Required var not found"), raised before
      * any model runs. Defaults accept single- or double-quoted
      * literals, or a bare token (numbers, true/false).
      *
      * The rendered text is what [[fingerprints]] hashes and what
      * manifest.json records as `compiled_code` — so flipping a var
      * re-fingerprints EXACTLY the models whose code references it
      * (and, through the transitive chain, their descendants), giving
      * `state:modified+` var-awareness for free: at 100 TB a var flip
      * rebuilds the consuming subtree and costs zero reads anywhere
      * else. */
    private val VarRef =
      """\{\{\s*(var|env_var)\(\s*['"]([^'"]+)['"]\s*(?:,\s*(?:'([^']*)'|"([^"]*)"|([^)\s]+))\s*)?\)\s*\}\}""".r

    private[graft] def renderVars(text: String, vars: Map[String, String],
        env: Map[String, String] = sys.env): String =
      VarRef.replaceAllIn(text, m => {
        val (kind, name) = (m.group(1), m.group(2))
        val default = Option(m.group(3)).orElse(Option(m.group(4)))
          .orElse(Option(m.group(5)))
        val bound = kind match {
          case "var"     => vars.get(name)
          case "env_var" => env.get(name)
        }
        val v = bound.orElse(default).getOrElse(throw
          new IllegalArgumentException(s"required $kind '$name' is not " +
            "bound and has no default"))
        java.util.regex.Matcher.quoteReplacement(v)
      })

    /** dbt GROUPS + ACCESS (`groups:` blocks, `access:` config): a
      * PRIVATE model is referenceable only by models in ITS OWN group;
      * `protected` (dbt's default) and `public` resolve freely inside a
      * project. Enforced at DAG validation — before any build — so an
      * access violation can never half-materialize, exactly dbt's parse
      * error. Governance is pure metadata: zero cost at any scale. */
    private def enforceAccess(models: Seq[Model]): Unit =
      models.foreach { m =>
        m.deps.foreach { d =>
          val t = resolveRef(models, d)
          if (t.access == "private" && t.group != m.group)
            throw new IllegalArgumentException(
              s"access violation: model ${nodeId(m)} " +
              s"(group ${m.group.getOrElse("<none>")}) refs PRIVATE model " +
              s"${nodeId(t)} (group ${t.group.getOrElse("<none>")}) — " +
              "private models are referenceable only within their group")
          require(Set("private", "protected", "public").contains(t.access),
            s"model ${nodeId(t)}: unknown access '${t.access}'")
        }
      }

    /** `dbt clone`: stand up a dev environment from a production run's
      * materializations WITHOUT copying data — every prod table arrives
      * as a DeltaLite SHALLOW CLONE (version-0 references to prod's
      * live files, O(metadata) per table regardless of size — the
      * 100 TB dev-fork primitive). The clone carries prod's table
      * properties, INCLUDING the model fingerprint, so a subsequent
      * `run(selective = true)` against the dev target rebuilds exactly
      * the models the dev edit touched and serves everything else from
      * the zero-copy clones; prod is never written. Models already
      * present in dev are left alone (dbt clone's default). Returns
      * model table name → cloned (or kept) dev path. */
    def cloneEnv(s: SparkSession, prodDir: String, devDir: String,
        models: Seq[Model]): Map[String, String] = {
      val D = graft.sources.DeltaLite
      models.flatMap { m =>
        val name = tableName(m)
        val prod = s"$prodDir/$name"
        val dev = s"$devDir/$name"
        if (D.latestVersion(prod).isEmpty) None // not materialized in prod
        else {
          if (D.latestVersion(dev).isEmpty) D.cloneShallow(s, prod, dev)
          Some(name -> dev)
        }
      }.toMap
    }

    /** dbt NODE SELECTION (`--select` syntax): SPACE-separated terms
      * union; each term is
      *  - `name`   — the node (or versioned family) itself;
      *  - `+name`  — the node plus ALL ancestors;
      *  - `name+`  — the node plus ALL descendants;
      *  - `+name+` — both closures;
      *  - `@name`  — the node, its descendants, and every ancestor of
      *               those descendants (dbt's build-out-and-up operator
      *               for CI: everything needed to rebuild and re-test
      *               the blast radius);
      *  - `tag:t`  — every node declaring tag t;
      *  - `state:modified` — every node whose TRANSITIVE fingerprint
      *    (rendered code + upstream chain, so code edits, var flips and
      *    upstream changes all count) differs from the one recorded in
      *    the `--state` manifest.json, or that the state manifest has
      *    never seen. dbt's slim-CI selector: `state:modified+` with
      *    `state = Some(prodTargetDir)` builds exactly the blast radius
      *    of a change against production's last artifacts. Requires
      *    `state`.
      * Selection is pure driver metadata — deciding WHAT to build never
      * reads data at any scale. Returns models in the input order. */
    def select(models: Seq[Model], spec: String,
        state: Option[String] = None,
        vars: Map[String, String] = Map.empty,
        env: Map[String, String] = sys.env): Seq[Model] = {
      val ids = models.map(nodeId)
      val parents: Map[String, Set[String]] = models.map(m =>
        nodeId(m) -> m.deps.map(d => nodeId(resolveRef(models, d))).toSet).toMap
      val children: Map[String, Set[String]] = ids.map(id =>
        id -> parents.collect { case (c, ps) if ps.contains(id) => c }.toSet).toMap
      def closure(seed: Set[String], edge: Map[String, Set[String]]): Set[String] = {
        var acc = seed; var frontier = seed
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(edge.getOrElse(_, Set.empty)) -- acc
          acc ++= next; frontier = next
        }
        acc
      }
      def base(name: String): Set[String] =
        if (name == "state:modified") {
          val dir = state.getOrElse(throw new IllegalArgumentException(
            "state:modified requires a --state manifest directory"))
          val saved = stateChecksums(dir)
          models.filter(m =>
            !saved.get(nodeId(m)).contains(ownChecksum(m, vars, env)))
            .map(nodeId).toSet
        } else {
          val hit = models.filter(m => nodeId(m) == name || m.name == name)
          require(hit.nonEmpty, s"selector '$name' matches no model")
          hit.map(nodeId).toSet
        }
      val chosen: Set[String] = spec.trim.split("""\s+""").toSeq
        .filter(_.nonEmpty).flatMap { term =>
          if (term.startsWith("tag:")) {
            val t = term.stripPrefix("tag:")
            models.filter(_.tags.contains(t)).map(nodeId)
          } else if (term.startsWith("@")) {
            val seed = base(term.stripPrefix("@"))
            val down = closure(seed, children)
            down ++ closure(down, parents)
          } else {
            val up = term.startsWith("+"); val down = term.endsWith("+")
            val seed = base(term.stripPrefix("+").stripSuffix("+"))
            seed ++ (if (up) closure(seed, parents) else Set.empty) ++
              (if (down) closure(seed, children) else Set.empty)
          }
        }.toSet
      models.filter(m => chosen.contains(nodeId(m)))
    }

    /** `dbt run --select <spec>` (+ the `--defer` contract for what the
      * selection leaves out): build exactly the selected nodes; an
      * UNSELECTED upstream must already be materialized under the
      * target and serves ref()s as-is — status "deferred", no hooks, no
      * build, no commit. A missing deferred upstream fails that subtree
      * with a clear error instead of silently rebuilding it. */
    /** A node's OWN content hash (id + rendered code, upstreams
      * excluded) — dbt's node checksum, the `state:modified` unit. */
    private def ownChecksum(m: Model, vars: Map[String, String],
        env: Map[String, String]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest((nodeId(m) + "\u0000" + renderVars(m.code, vars, env))
          .getBytes("UTF-8")).map("%02x".format(_)).mkString

    /** Node id → own-code checksum recorded in a prior run's
      * manifest.json under `stateDir` (dbt's `--state` artifacts). */
    private def stateChecksums(stateDir: String): Map[String, String] = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = Paths.get(stateDir, "manifest.json")
      require(Files.exists(p), s"--state: no manifest.json under $stateDir")
      val nodes = JsonMethods.parse(new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)) \ "nodes"
      nodes.asInstanceOf[JObject].obj.flatMap { case (uid, v) =>
        v \ "checksum" match {
          case JString(cs) => Some(uid.stripPrefix("model.graft.") -> cs)
          case _ => None
        }
      }.toMap
    }

    def runSelect(s: SparkSession, models: Seq[Model], targetDir: String,
        spec: String, threads: Int = 4, selective: Boolean = false,
        vars: Map[String, String] = Map.empty,
        state: Option[String] = None): Map[String, String] =
      run(s, models, targetDir, threads, selective,
        buildOnly = Some(select(models, spec, state, vars).map(nodeId).toSet),
        vars = vars)

    /** Topological order (Kahn) — also rejects accidental ref cycles.
      * Refs resolve BEFORE ordering, so a floating ref schedules after
      * whichever version it lands on. */
    private def topoOrder(models: Seq[Model]): Seq[Model] = {
      var order = Vector.empty[Model]
      var remaining = models
      while (remaining.nonEmpty) {
        val (ready, rest) = remaining.partition(
          _.deps.forall { d =>
            val t = nodeId(resolveRef(models, d))
            order.exists(o => nodeId(o) == t)
          })
        require(ready.nonEmpty,
          s"ref cycle among ${remaining.map(nodeId).mkString(", ")}")
        order ++= ready; remaining = rest
      }
      order
    }

    /** Table property carrying the model fingerprint that produced the
      * materialization — the persisted `state` that dbt's
      * `--select state:modified+` compares manifests against. Living in
      * the TARGET table's own properties (not a side manifest file)
      * means any process that can read the table can decide staleness,
      * and the fingerprint travels with clones/restores of the table. */
    val FingerprintKey = "graft.modelFingerprint"

    /** Transitive model fingerprints, topo order: a model's fingerprint
      * covers its own code AND every upstream fingerprint, so editing
      * one model invalidates exactly its descendant subtree — dbt's
      * `state:modified+` selector — with zero data reads (pure driver
      * metadata; at 100 TB staleness is decided before a single file
      * opens). */
    def fingerprints(order: Seq[Model], vars: Map[String, String] = Map.empty,
        env: Map[String, String] = sys.env): Map[String, String] = {
      val fp = scala.collection.mutable.Map[String, String]()
      order.foreach { m =>
        val depIds = m.deps.map(d => nodeId(resolveRef(order, d))).sorted
        // hash the RENDERED code: a var/env_var flip re-fingerprints
        // exactly the models whose code references it. GRANTS CONFIG is
        // part of the fingerprint too (sorted key=value; None and
        // Some(empty) hash differently): editing only a model's
        // governance config re-fingerprints it, so a selective
        // (state:modified+) run REBUILDS it and syncGrants applies the
        // change — without this, dropping an exemption from config
        // would "reuse" the node and keep serving the revoked
        // principal raw data (found by review)
        val grantsBasis = m.grants match {
          case None => "<unmanaged>"
          case Some(g) => g.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString("\u0001")
        }
        val basis = (Seq(nodeId(m), renderVars(m.code, vars, env),
          grantsBasis) ++ depIds.map(fp))
          .mkString("\u0000") // NUL-joined: code text cannot alias a dep list
        fp(nodeId(m)) = java.security.MessageDigest.getInstance("SHA-256")
          .digest(basis.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      fp.toMap
    }

    /** The project DAG. `silver_events` refs bronze; `gold_daily_events`
      * refs silver; `gold_daily_revenue` is an independent branch — so a
      * 2-thread run overlaps it with the events chain, exactly dbt's
      * `--threads` behavior. */
    def dag(dir: String): Seq[Model] = Seq(
      Model("bronze_events", Nil, (s, _) => bronzeEvents(s, dir),
        code = "select * from source(events)"),
      Model("silver_events", Seq("bronze_events"), (s, ref) =>
        ref("bronze_events")
          .withColumn("ts_sec", date_trunc("second", col("ts")))
          .dropDuplicates("event_id")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        code = "select *, date_trunc(second, ts) as ts_sec from ref(bronze_events) " +
          "qualify row_number() over (partition by event_id) = 1 " +
          "where event_type is not null and value is not null"),
      Model("gold_daily_revenue", Nil, (s, _) => goldDailyRevenue(s, dir),
        code = "select day, round2(sum(extprice * (1 - discount))) as revenue, " +
          "count(*) as n_items from source(lineitem) group by 1"),
      Model("gold_daily_events", Seq("silver_events"), (s, ref) =>
        ref("silver_events")
          .groupBy(col("ts_sec").cast("date").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            expr("round((sum(value))*100)/100").as("sum_value")),
        code = "select cast(ts_sec as date) as day, event_type, count(*) as n, " +
          "round2(sum(value)) as sum_value from ref(silver_events) group by 1, 2"))

    /** One dbt 1.8 `unit_tests:` case: run `model`'s LOGIC with every
      * `ref()` answered from a mock fixture instead of a materialized
      * table, and compare the result to `expect` — storage never
      * touched, upstream models never run, so the test isolates the
      * transform exactly like dbt's (and survives upstream data
      * drift). Comparison follows dbt's convention: you assert the
      * columns `expect` LISTS (the output is projected onto them;
      * asserting a column the model does not produce fails loudly),
      * multiset row equality, order-insensitive; fixture values are
      * cast to the model output's types (fixtures are written loosely,
      * the model's types are authoritative). */
    final case class UnitTest(name: String, model: String,
        givenRefs: Map[String, DataFrame], expect: DataFrame)

    final case class UnitTestResult(name: String, model: String,
        passed: Boolean, detail: String)

    /** Run unit tests against model logic. Versioned models test their
      * canonical `build` (version-pinned `buildV` variants resolve refs
      * by name through the same mock map). Never writes. */
    def runUnitTests(s: SparkSession, models: Seq[Model],
        tests: Seq[UnitTest]): Seq[UnitTestResult] = tests.map { t =>
      def fail(d: String) = UnitTestResult(t.name, t.model, passed = false, d)
      try {
        val m = resolveRef(models, t.model)
        val missing = m.deps.filterNot(t.givenRefs.contains)
        if (missing.nonEmpty)
          fail(s"missing mock fixture(s) for " +
            s"ref(${missing.mkString(", ")})")
        else {
          val ref: String => DataFrame = d => t.givenRefs.getOrElse(d,
            throw new IllegalArgumentException(
              s"model referenced undeclared dep '$d'"))
          val got0 = m.build(s, ref)
          val cols = t.expect.columns.toSeq
          val absent = cols.filterNot(got0.columns.contains)
          if (absent.nonEmpty)
            fail(s"expect lists column(s) the model does not produce: " +
              absent.mkString(", "))
          else {
            val gotTypes = got0.schema.fields.map(f =>
              f.name -> f.dataType).toMap
            // driver-side multiset compare: unit-test outputs are
            // fixture-sized BY CONTRACT (mock inputs in, a handful of
            // rows out), and collecting buys row-level diffs in the
            // report instead of opaque counts
            val got = got0.select(cols.map(col): _*)
              .collect().toSeq.map(_.toSeq)
            val exp = t.expect.select(cols.map(c =>
                col(c).cast(gotTypes(c)).as(c)): _*)
              .collect().toSeq.map(_.toSeq)
            def counts(rs: Seq[Seq[Any]]) =
              rs.groupBy(identity).view.mapValues(_.size).toMap
            val gc = counts(got); val ec = counts(exp)
            val unexpected = got.filter(r =>
              gc(r) > ec.getOrElse(r, 0)).distinct
            val absent2 = exp.filter(r =>
              ec(r) > gc.getOrElse(r, 0)).distinct
            if (unexpected.isEmpty && absent2.isEmpty)
              UnitTestResult(t.name, t.model, passed = true, "ok")
            else fail(
              s"on (${cols.mkString(", ")}): " +
              s"${unexpected.size} unexpected row value(s) " +
              s"${unexpected.take(3).map(_.mkString("[", ", ", "]"))
                .mkString(" ")}; " +
              s"${absent2.size} missing row value(s) " +
              s"${absent2.take(3).map(_.mkString("[", ", ", "]"))
                .mkString(" ")}")
          }
        }
      } catch {
        case e: Exception => fail(s"model logic raised: ${e.getMessage}")
      }
    }

    /** The `dbt run` analogue (SURVEY §3 EP1): materialize the DAG as
      * DeltaLite tables under `targetDir`, executing INDEPENDENT models
      * concurrently on `threads` workers (dbt `--threads`; Spark's
      * scheduler interleaves their jobs). Each model starts the moment
      * its refs are materialized — no level barrier. Fails fast with the
      * first model error. Returns model name → table path. */
    def runAll(s: SparkSession, dir: String, targetDir: String,
        threads: Int = 4, selective: Boolean = false): Map[String, String] =
      run(s, dag(dir), targetDir, threads, selective)

    /** The scheduler behind [[runAll]], usable with any model set.
      *
      * `selective = true` is dbt's `run --select state:modified+`: a
      * model whose transitive fingerprint matches the one stored in its
      * target table's properties is NOT rebuilt — it reports status
      * "reused" and its existing materialization serves downstream
      * ref()s. A changed model rebuilds in place (full-table
      * replaceWhere) together with exactly its descendants, because the
      * fingerprint chains through deps. Staleness is decided from log
      * metadata only — at 100 TB an unchanged-subtree run costs zero
      * data reads and zero commits. */
    def run(s: SparkSession, models: Seq[Model], targetDir: String,
        threads: Int = 4, selective: Boolean = false,
        buildOnly: Option[Set[String]] = None,
        vars: Map[String, String] = Map.empty,
        env: Map[String, String] = sys.env): Map[String, String] = {
      import java.util.concurrent.{CompletableFuture, Executors}
      val ids = models.map(nodeId)
      require(ids.distinct.size == ids.size,
        s"duplicate model ids: ${ids.diff(ids.distinct).mkString(", ")}")
      models.foreach(m => m.deps.foreach(d => resolveRef(models, d)))
      enforceAccess(models)
      val order = topoOrder(models)
      val warnings = versionWarnings(models)
      // compile gate: EVERY model's templated code must render — an
      // unbound var fails the invocation before any model runs (dbt's
      // parse-time "Required var not found"), never half a DAG in
      val fp = fingerprints(order, vars, env)
      // var resolver handed to buildV closures: same binding rules as
      // the code templates, minus defaults (a build-side default is the
      // closure's own .getOrElse)
      val varOf: String => String = n => vars.getOrElse(n, throw
        new IllegalArgumentException(s"required var '$n' is not bound"))
      val pool = Executors.newFixedThreadPool(math.max(1, threads))
      val results =
        new java.util.concurrent.ConcurrentHashMap[String, RunResult]()
      val runStart = System.nanoTime()
      try {
        val futures = scala.collection.mutable.Map[String, CompletableFuture[String]]()
        val ref = (n: String) => graft.sources.DeltaLite.read(
          s, s"$targetDir/${tableName(resolveRef(models, n))}")
        order.foreach { m =>
          val deps = m.deps.map(d => futures(nodeId(resolveRef(models, d))))
          val f = CompletableFuture.allOf(deps: _*).thenApplyAsync(
            { _ =>
              val path = s"$targetDir/${tableName(m)}"
              val t0 = System.nanoTime()
              try {
                val D = graft.sources.DeltaLite
                val exists = D.latestVersion(path).isDefined
                val deferred = buildOnly.exists(!_.contains(nodeId(m)))
                val fresh = !deferred && selective && exists &&
                  D.snapshot(path).properties.get(FingerprintKey)
                    .contains(fp(nodeId(m)))
                if (deferred) {
                  // --select left this node out: it serves downstream
                  // refs from its EXISTING materialization (dbt defer)
                  require(exists, s"model ${nodeId(m)} is outside the " +
                    "selection and has no existing materialization to " +
                    "defer to")
                  val snap = D.snapshot(path)
                  results.put(nodeId(m), RunResult("deferred",
                    (System.nanoTime() - t0) / 1e9, snap.totalRows,
                    snap.version))
                } else if (fresh) {
                  // state:modified+ cache hit: the stored fingerprint
                  // matches — serve the existing materialization, no
                  // build, no commit, no data read
                  val snap = D.snapshot(path)
                  results.put(nodeId(m), RunResult("reused",
                    (System.nanoTime() - t0) / 1e9, snap.totalRows,
                    snap.version))
                } else {
                  // dbt hook order: pre-hooks → build+materialize →
                  // post-hooks; a reused (state:modified+ cache-hit)
                  // model runs neither, exactly like a skipped dbt node.
                  // hooks render vars first (dbt templating order:
                  // project context, then the node's own {{ this }})
                  m.preHooks.foreach(h =>
                    s.sql(renderHook(renderVars(h, vars, env), path)))
                  val built = m.buildV match {
                    case Some(b) => b(s, ref, varOf)
                    case None    => m.build(s, ref)
                  }
                  // contract gate BEFORE any write: a breaking schema
                  // never materializes, even transiently
                  m.contract.foreach(c => enforceContract(m.name, c,
                    built.schema))
                  val v =
                    if (!exists) {
                      val v0 = D.create(s, path, built,
                        properties = Map(FingerprintKey -> fp(nodeId(m))))
                      // contract not_null → persistent CHECK constraints:
                      // from here on, every write path enforces them
                      m.contract.toSeq.flatMap(_.notNull).foreach { col =>
                        D.addConstraint(s, path,
                          s"contract_${col}_not_null", s"$col IS NOT NULL")
                      }
                      v0
                    } else {
                      // stale rebuild in place: full-table replace, then
                      // stamp the new fingerprint (history keeps the old
                      // materialization time-travelable)
                      D.replaceWhere(s, path, lit(true), built)
                      D.setProperties(path, Map(FingerprintKey -> fp(nodeId(m))))
                    }
                  // grants config -> S63 properties, every materialization
                  // (Some = declared-authoritative, omissions revoke;
                  // None = unmanaged, out-of-band policy untouched)
                  m.grants.foreach(syncGrants(path, _))
                  // post-hooks see the just-materialized relation two
                  // ways: `{{ this }}` renders to the target path (for
                  // the lake's quoted-path DML), and a temp view named
                  // after the model serves FROM-position reads (dbt's
                  // `{{ this }}` as a queryable relation).
                  if (m.postHooks.nonEmpty)
                    D.read(s, path).createOrReplaceTempView(tableName(m))
                  m.postHooks.foreach(h =>
                    s.sql(renderHook(renderVars(h, vars, env), path)))
                  val snap = D.snapshot(path)
                  results.put(nodeId(m), RunResult("success",
                    (System.nanoTime() - t0) / 1e9, snap.totalRows, v))
                }
                path
              } catch { case e: Throwable =>
                results.put(nodeId(m), RunResult(
                  s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}",
                  (System.nanoTime() - t0) / 1e9, 0L, -1L))
                throw e
              }
            }: java.util.function.Function[Void, String], pool)
          futures(nodeId(m)) = f
        }
        order.map { m =>
          nodeId(m) -> (try futures(nodeId(m)).join()
            catch { case e: java.util.concurrent.CompletionException =>
              throw Option(e.getCause).getOrElse(e) })
        }.toMap
      } finally {
        pool.shutdown()
        // dbt's EP1 lifecycle artifacts, written even on a failed run
        // (dbt writes partial run_results the same way): manifest.json is
        // the DAG (nodes + depends_on + child_map), run_results.json the
        // per-model outcome (status / wall / rows / table version).
        writeArtifacts(targetDir, order,
          scala.jdk.CollectionConverters.MapHasAsScala(results).asScala.toMap,
          (System.nanoTime() - runStart) / 1e9, warnings, vars, env, fp)
      }
    }

    /** `dbt retry`: rerun the last invocation's FAILURES and everything
      * never reached, reusing every model that already materialized.
      * Pure delegation to the state:modified+ selective scheduler — a
      * succeeded model's stored fingerprint matches (status "reused"),
      * a failed or never-reached model has no current materialization
      * (built), and — one better than dbt's saved-status replay — code
      * edited BETWEEN run and retry rebuilds exactly its subtree,
      * because staleness is decided from fingerprints, not from the
      * stale run_results snapshot. Zero data reads for the reused set
      * at any scale. */
    def retry(s: SparkSession, models: Seq[Model], targetDir: String,
        threads: Int = 4,
        vars: Map[String, String] = Map.empty): Map[String, String] =
      run(s, models, targetDir, threads, selective = true, vars = vars)

    /** `dbt compile`: render every model's code text — vars/env_var
      * templates resolved, `ref(name)` calls substituted with the
      * quoted MATERIALIZATION path the run would read (pinned and
      * floating version refs included) — to
      * `<targetDir>/compiled/<nodeId>.sql`, one file per node with a
      * `-- depends_on:` header, WITHOUT executing anything. The same
      * validations as a run (ref resolution, access enforcement,
      * template compile) gate the artifact, so `compile` is the cheap
      * CI signal dbt users lean on: a broken ref, access violation or
      * unbound var fails here, with zero data reads at any scale.
      * Returns nodeId → compiled file path. */
    def compile(models: Seq[Model], targetDir: String,
        vars: Map[String, String] = Map.empty,
        env: Map[String, String] = sys.env): Map[String, String] = {
      models.foreach(m => m.deps.foreach(d => resolveRef(models, d)))
      enforceAccess(models)
      val dir = Paths.get(targetDir, "compiled")
      Files.createDirectories(dir)
      val RefCall = """ref\(([A-Za-z0-9_.]+)\)""".r
      models.map { m =>
        val rendered = renderVars(m.code, vars, env)
        val resolved = RefCall.replaceAllIn(rendered, mm =>
          java.util.regex.Matcher.quoteReplacement(
            s"'$targetDir/${tableName(resolveRef(models, mm.group(1)))}'"))
        val text = s"-- node: ${nodeId(m)}\n-- depends_on: " +
          m.deps.map(d => nodeId(resolveRef(models, d))).sorted
            .mkString(", ") + "\n" + resolved + "\n"
        val f = dir.resolve(s"${nodeId(m)}.sql")
        Files.write(f, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        nodeId(m) -> f.toString
      }.toMap
    }

    /** Per-model outcome captured during [[run]] for run_results.json. */
    final case class RunResult(status: String, executionSec: Double,
        rows: Long, version: Long)

    /** dbt-style `manifest.json` + `run_results.json` under `targetDir`.
      * Node ids follow dbt's `model.<project>.<name>` convention so
      * downstream tooling written against dbt artifacts parses these. */
    /** dbt EXPOSURES — the downstream consumers (dashboards, ML jobs,
      * notebooks) declared against models so lineage extends past the
      * warehouse edge: `dbt ls --select +exposure:...` style impact
      * analysis needs them in manifest.json. Declared statically here
      * (the analogue of exposures: blocks in schema.yml). */
    val exposures: Seq[(String, String, Seq[String])] = Seq(
      ("revenue_dashboard", "dashboard", Seq("gold_daily_revenue")),
      ("activity_monitor", "dashboard", Seq("gold_daily_events")),
      ("events_feature_feed", "ml", Seq("silver_events")))

    private def writeArtifacts(targetDir: String, order: Seq[Model],
        results: Map[String, RunResult], elapsedSec: Double,
        warnings: Seq[String] = Nil, vars: Map[String, String] = Map.empty,
        env: Map[String, String] = sys.env,
        fingerprintsByNode: Map[String, String] = Map.empty): Unit = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      def uid(n: String) = s"model.graft.$n"
      def dep(d: String) = uid(nodeId(resolveRef(order, d)))
      val manifest =
        // dbt records the invocation's var bindings in manifest
        // metadata so state comparisons can see WHICH values produced
        // these fingerprints (compiled_code below is already rendered)
        ("metadata" -> ("vars" -> vars)) ~
        ("nodes" -> order.map { m =>
          // a versioned node stamps its version, the family's declared
          // latest, and any deprecation date — dbt's governance fields
          val lv = if (m.version.isEmpty) None
            else latestOf(order.filter(x =>
              x.name == m.name && x.version.isDefined)).version
          uid(nodeId(m)) -> (
            ("name" -> m.name) ~
            ("resource_type" -> "model") ~
            ("path" -> s"$targetDir/${tableName(m)}") ~
            ("version" -> m.version) ~
            ("latest_version" -> lv) ~
            ("deprecation_date" -> m.deprecationDate) ~
            ("group" -> m.group) ~
            ("access" -> m.access) ~
            ("tags" -> m.tags.toList) ~
            ("language" -> m.language) ~
            ("compiled_code" -> renderVars(m.code, vars, env)) ~
            // two hashes, two jobs: the TRANSITIVE fingerprint stamps
            // materializations (staleness), the OWN-code checksum is
            // what `--select state:modified --state <this dir>` diffs —
            // dbt's modified means THIS node's code changed; descendants
            // of a change are selected by the + operator, not by
            // `modified` itself
            ("fingerprint" -> fingerprintsByNode.get(nodeId(m))) ~
            ("checksum" -> ownChecksum(m, vars, env)) ~
            ("depends_on" -> ("nodes" -> m.deps.map(dep))))
        }.toMap) ~
        ("child_map" -> order.map(m =>
          uid(nodeId(m)) -> (order.filter(_.deps.exists(d =>
              nodeId(resolveRef(order, d)) == nodeId(m)))
            .map(c => uid(nodeId(c))) ++
            exposures.filter(_._3.contains(m.name))
              .map(e => s"exposure.graft.${e._1}"))).toMap) ~
        ("exposures" -> exposures
          .filter(e => e._3.forall(d => order.exists(_.name == d)))
          .map { case (name, kind, deps) =>
            s"exposure.graft.$name" -> (
              ("name" -> name) ~
              ("resource_type" -> "exposure") ~
              ("type" -> kind) ~
              ("depends_on" -> ("nodes" -> deps.map(uid))))
          }.toMap)
      val runResults =
        ("results" -> order.flatMap(m => results.get(nodeId(m)).map(r =>
          ("unique_id" -> uid(nodeId(m))) ~
          ("status" -> r.status) ~
          ("execution_time" -> r.executionSec) ~
          ("adapter_response" ->
            ("rows_affected" -> r.rows) ~ ("version" -> r.version))))) ~
        ("warnings" -> warnings.toList) ~
        ("elapsed_time" -> elapsedSec)
      val dir = Paths.get(targetDir)
      Files.createDirectories(dir)
      Files.write(dir.resolve("manifest.json"),
        JsonMethods.pretty(JsonMethods.render(manifest))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.write(dir.resolve("run_results.json"),
        JsonMethods.pretty(JsonMethods.render(runResults))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    /** `dbt docs generate` → `catalog.json`: the COLUMN-LEVEL catalog
      * dbt users browse daily — per-model schema (name / type /
      * ordinal), table stats (row count, bytes, file count, version)
      * and per-column min/max — assembled ENTIRELY from DeltaLite log
      * metadata via the s50 stats machinery
      * ([[graft.plans.StatsAggRewrite.statExtremum]]): zero data files
      * open at ANY table size, which is exactly how a docs site must be
      * built over a 100 TB lake (dbt against a warehouse issues
      * information_schema + stats queries for the same reason). Columns
      * whose extrema are unknowable from stats (deletion vectors,
      * 32-char string-bound truncation, stat-ineligible types) simply
      * omit min/max — same decline rules as the stats-only aggregate
      * rewrite, so the catalog never shows a wrong value. Node ids
      * follow dbt's `model.<project>.<name>`; written next to
      * manifest.json / run_results.json. */
    def generateCatalog(targetDir: String, order: Seq[Model]): String = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      import org.apache.spark.sql.types.{DateType, TimestampType}
      val D = graft.sources.DeltaLite
      def uid(m: Model) = s"model.graft.${nodeId(m)}"
      def render(dt: org.apache.spark.sql.types.DataType,
          v: Any): Option[String] = v match {
        case null => None
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case i: java.lang.Integer if dt == DateType =>
          Some(java.time.LocalDate.ofEpochDay(i.longValue).toString)
        case l: java.lang.Long if dt == TimestampType =>
          Some(java.time.Instant.ofEpochSecond(
            Math.floorDiv(l, 1000000L),
            Math.floorMod(l, 1000000L) * 1000L).toString)
        case x => Some(x.toString)
      }
      // A declared model whose target table has no DeltaLite log is NOT
      // silently dropped: it lands in `errors` so catalog consumers can
      // tell "not materialized yet" from "not declared at all".
      val skipped = order.filter(m =>
        D.latestVersion(s"$targetDir/${tableName(m)}").isEmpty)
        .map(m => s"model ${uid(m)} skipped: no materialized table " +
          s"at $targetDir/${tableName(m)}")
      val nodes = order.flatMap { m =>
        val path = s"$targetDir/${tableName(m)}"
        D.latestVersion(path).map { _ =>
          val snap = D.snapshot(path)
          val hasDv = snap.files.exists(_.dv.nonEmpty)
          // ANALYZE-computed column stats (NDV / null counts) join the
          // log-derived extrema — the dbt-docs catalog's per-column
          // stats block, still zero data reads
          val analyzed = D.parseColStats(snap.properties)
          val cols = snap.schema.fields.zipWithIndex.map { case (f, i) =>
            val extrema: (Option[String], Option[String]) =
              if (hasDv) (None, None) // a DV can delete the extreme row
              else {
                // stats are keyed by PHYSICAL column name (stable
                // across renames) — resolve before the lookup
                def ex(isMin: Boolean): Option[String] =
                  graft.plans.StatsAggRewrite.statExtremum(
                    snap.files, snap.phys(f.name), f.dataType, isMin)
                    .flatMap(render(f.dataType, _))
                (ex(isMin = true), ex(isMin = false))
              }
            val an = analyzed.get(snap.phys(f.name))
            f.name -> (
              ("name" -> f.name) ~
              ("type" -> f.dataType.simpleString) ~
              ("index" -> i) ~
              ("min" -> extrema._1) ~
              ("max" -> extrema._2) ~
              ("approx_distinct" -> an.flatMap(_.ndv)) ~
              ("null_count" -> an.flatMap(_.nulls)))
          }
          uid(m) -> (
            ("metadata" -> (
              ("name" -> tableName(m)) ~
              ("type" -> "table") ~
              ("version" -> snap.version))) ~
            ("columns" -> cols.toMap) ~
            ("stats" -> (
              ("row_count" -> snap.totalRows) ~
              ("bytes" -> snap.totalBytes) ~
              ("num_files" -> snap.files.size))))
        }
      }
      val catalog = ("nodes" -> nodes.toMap) ~
        ("errors" -> (if (skipped.isEmpty) None else Some(skipped.toList)))
      val out = Paths.get(targetDir).resolve("catalog.json")
      Files.createDirectories(out.getParent)
      Files.write(out, JsonMethods.pretty(JsonMethods.render(catalog))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.toString
    }

    /** `dbt docs` STATIC SITE: one self-contained index.html rendered
      * over the manifest.json + catalog.json this pipeline already
      * writes — the artifact dbt serves with `dbt docs serve`, built the
      * way a 100 TB lake needs it: zero data reads (both JSONs are log/
      * metadata-derived), zero external assets (serves from a file://
      * mount or any object store's static hosting). Sidebar lists
      * models + exposures; a node page shows governance fields (group/
      * access/version/deprecation/tags), upstream/downstream lineage
      * from depends_on/child_map, the RENDERED compiled code, and the
      * catalog's column table (type, live min/max, ANALYZE NDV/nulls)
      * with table stats. Both JSONs embed verbatim (script-safe
      * `<\/`-escaped), so the page doubles as the machine-readable
      * artifact bundle. */
    def generateDocsSite(targetDir: String): String = {
      val dir = Paths.get(targetDir)
      def readJson(name: String): String = {
        val p = dir.resolve(name)
        require(Files.exists(p),
          s"docs site needs $name under $targetDir — run the pipeline " +
            "(manifest.json) and generateCatalog (catalog.json) first")
        new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).replace("</", "<\\/")
      }
      val manifest = readJson("manifest.json")
      val catalog = readJson("catalog.json")
      // LINEAGE DAG, rendered SERVER-SIDE as inline SVG (dbt docs' graph
      // view): layered by longest-path depth from the manifest's
      // child_map — pure metadata, zero data reads, zero JS layout
      // dependencies, and the artifact is grep-testable. Nodes click
      // through to the same show(id) pages.
      val dagSvg: String = {
        import org.json4s._
        val mj = org.json4s.jackson.JsonMethods.parse(
          new String(Files.readAllBytes(dir.resolve("manifest.json")),
            java.nio.charset.StandardCharsets.UTF_8))
        def keysOf(v: JValue): Seq[String] = v match {
          case JObject(o) => o.map(_._1); case _ => Nil
        }
        val modelIds = keysOf(mj \ "nodes")
        val pageIds = modelIds ++ keysOf(mj \ "exposures")
        // a dbt-compatible manifest's child_map may carry PARENT keys
        // this pipeline doesn't emit as nodes (source.* / seed.* ids):
        // they must still be LAID OUT and DRAWN — dropping their edges
        // while parentsOf counts them toward layer depth would both
        // hide source lineage dbt's graph view shows and skew the
        // layering of every downstream node
        val extIds = (mj \ "child_map") match {
          case JObject(o) => o.map(_._1).filterNot(pageIds.contains)
          case _ => Nil
        }
        val allIds = pageIds ++ extIds
        val edges: Seq[(String, String)] = (mj \ "child_map") match {
          case JObject(o) => o.flatMap {
            case (p, JArray(cs)) =>
              cs.collect { case JString(c) if pageIds.contains(c) => (p, c) }
            case _ => Nil
          }
          case _ => Nil
        }
        val parentsOf = edges.groupBy(_._2).map {
          case (c, es) => c -> es.map(_._1)
        }
        // longest-path layering (the DAG is topologically valid by
        // construction — Pipeline.run rejects cycles before any artifact
        // exists)
        val memo = scala.collection.mutable.Map[String, Int]()
        def depth(id: String): Int = memo.getOrElseUpdate(id,
          parentsOf.get(id).filter(_.nonEmpty)
            .map(_.map(depth).max + 1).getOrElse(0))
        val (w, h, xGap, yGap) = (190, 28, 240, 46)
        val byLayer = allIds.groupBy(depth).toSeq.sortBy(_._1)
        val pos: Map[String, (Int, Int)] = byLayer.flatMap {
          case (d, ids) => ids.sorted.zipWithIndex.map {
            case (id, i) => id -> (20 + d * xGap, 20 + i * yGap)
          }
        }.toMap
        val width = 40 + (byLayer.map(_._1).maxOption.getOrElse(0) + 1) * xGap
        val height = 40 + byLayer.map(_._2.size).maxOption.getOrElse(1) * yGap
        def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
          .replace("\"", "&quot;").replace("'", "&#39;")
        val edgeSvg = edges.flatMap { case (p, c) =>
          for { (x1, y1) <- pos.get(p); (x2, y2) <- pos.get(c) } yield {
            val (sx, sy, ex, ey) = (x1 + w, y1 + h / 2, x2, y2 + h / 2)
            val mx = (sx + ex) / 2
            s"""<path class="edge" data-from="${esc(p)}" data-to="${esc(c)}" d="M $sx $sy C $mx $sy $mx $ey $ex $ey" fill="none" stroke="#8a93a6" stroke-width="1.5"/>"""
          }
        }.mkString("\n")
        val nodeSvg = allIds.map { id =>
          val (x, y) = pos(id)
          // third style for source/seed-class externals (dbt's green
          // source nodes); they have no node page, so no click-through
          val fill = if (modelIds.contains(id)) "#20232a"
            else if (pageIds.contains(id)) "#4a5568" else "#1f6f43"
          val click = if (pageIds.contains(id))
            s""" onclick="show('${esc(id)}')" style="cursor:pointer"""" else ""
          val label = {
            val s = id.replaceAll("^(model|exposure|source|seed)\\.[A-Za-z0-9_]+\\.", "")
            if (s.length > 26) s.take(25) + "…" else s
          }
          s"""<g class="dagnode"$click><rect x="$x" y="$y" width="$w" height="$h" rx="6" fill="$fill"/><text x="${x + 8}" y="${y + 18}" fill="#fff" font-size="12" font-family="system-ui,sans-serif">${esc(label)}</text></g>"""
        }.mkString("\n")
        // no xmlns: inline SVG in an HTML5 document needs none, and the
        // site's self-containment test forbids any external reference
        s"""<h1>Lineage graph</h1><svg id="dagsvg" width="$width" height="$height" viewBox="0 0 $width $height">
$edgeSvg
$nodeSvg
</svg>"""
      }
      val head =
        """<!doctype html>
          |<html><head><meta charset="utf-8"><title>graft dbt docs</title>
          |<style>
          |body{margin:0;font:14px/1.45 system-ui,sans-serif;display:flex;min-height:100vh}
          |#side{width:270px;background:#20232a;color:#eee;padding:12px;overflow:auto}
          |#side h2{font-size:12px;text-transform:uppercase;color:#9aa;margin:14px 0 4px}
          |#side a{display:block;color:#cdd;text-decoration:none;padding:2px 6px;border-radius:4px;word-break:break-all}
          |#side a:hover,#side a.sel{background:#3a3f4b;color:#fff}
          |#main{flex:1;padding:18px 26px;overflow:auto}
          |table{border-collapse:collapse;margin:8px 0}
          |td,th{border:1px solid #ccc;padding:3px 8px;text-align:left;font-size:13px}
          |th{background:#f2f2f2}
          |pre{background:#f6f8fa;padding:10px;border-radius:6px;overflow:auto}
          |.pill{display:inline-block;background:#e2e8f0;border-radius:9px;padding:1px 8px;margin:0 4px 4px 0;font-size:12px}
          |.lineage a{margin-right:10px}
          |</style></head><body>
          |<div id="side"></div><div id="main"><p>Select a node.</p></div>
          |<script>
          |var MANIFEST = """.stripMargin
      val mid = """;
          |var CATALOG = """.stripMargin
      val tail =
        """;
          |function el(t,attrs,kids){var e=document.createElement(t);
          |  for(var k in (attrs||{})){if(k=='text')e.textContent=attrs[k];
          |    else if(k=='click')e.onclick=attrs[k];else e.setAttribute(k,attrs[k]);}
          |  (kids||[]).forEach(function(c){e.appendChild(c);});return e;}
          |function show(id){
          |  var m=document.getElementById('main');m.innerHTML='';
          |  var sides=document.querySelectorAll('#side a');
          |  sides.forEach(function(a){a.className=(a.dataset.id==id)?'sel':'';});
          |  var node=(MANIFEST.nodes||{})[id]||(MANIFEST.exposures||{})[id]||{};
          |  var cat=(CATALOG.nodes||{})[id];
          |  m.appendChild(el('h1',{text:id}));
          |  var pills=el('div');
          |  ['resource_type','group','access','version','latest_version','deprecation_date']
          |    .forEach(function(k){if(node[k]!=null&&node[k]!=='')
          |      pills.appendChild(el('span',{'class':'pill',text:k+': '+node[k]}));});
          |  (node.tags||[]).forEach(function(t){
          |    pills.appendChild(el('span',{'class':'pill',text:'#'+t}));});
          |  m.appendChild(pills);
          |  var deps=(node.depends_on||{}).nodes||[];
          |  var kids=(MANIFEST.child_map||{})[id]||[];
          |  function lin(title,ids){if(!ids.length)return;
          |    m.appendChild(el('h3',{text:title}));
          |    var d=el('div',{'class':'lineage'});
          |    ids.forEach(function(x){d.appendChild(el('a',{href:'#'+x,
          |      text:x,click:function(){show(x);}}));});
          |    m.appendChild(d);}
          |  lin('Upstream',deps);lin('Downstream',kids);
          |  if(cat){
          |    var st=cat.stats||{};
          |    m.appendChild(el('h3',{text:'Table'}));
          |    m.appendChild(el('div',{text:'rows: '+st.row_count+
          |      ' · bytes: '+st.bytes+' · files: '+st.num_files+
          |      ' · version: '+(cat.metadata||{}).version}));
          |    m.appendChild(el('h3',{text:'Columns'}));
          |    var tb=el('table'),hd=el('tr');
          |    ['name','type','min','max','approx_distinct','null_count']
          |      .forEach(function(h){hd.appendChild(el('th',{text:h}));});
          |    tb.appendChild(hd);
          |    var cols=Object.values(cat.columns||{})
          |      .sort(function(a,b){return a.index-b.index;});
          |    cols.forEach(function(c){var tr=el('tr');
          |      ['name','type','min','max','approx_distinct','null_count']
          |        .forEach(function(h){tr.appendChild(el('td',
          |          {text:c[h]==null?'':String(c[h])}));});
          |      tb.appendChild(tr);});
          |    m.appendChild(tb);}
          |  if(node.compiled_code){
          |    m.appendChild(el('h3',{text:'Compiled code'}));
          |    m.appendChild(el('pre',{text:node.compiled_code}));}
          |}
          |function showDag(){
          |  var m=document.getElementById('main');
          |  m.innerHTML=document.getElementById('dag').innerHTML;
          |  document.querySelectorAll('#side a').forEach(function(a){
          |    a.className=(a.dataset.id=='__dag')?'sel':'';});
          |}
          |(function(){
          |  var s=document.getElementById('side');
          |  s.appendChild(el('h2',{text:'Project'}));
          |  s.appendChild(el('a',{href:'#','data-id':'__dag',
          |    text:'Lineage graph',click:function(){showDag();}}));
          |  function group(title,obj){var ids=Object.keys(obj||{}).sort();
          |    if(!ids.length)return;
          |    s.appendChild(el('h2',{text:title}));
          |    ids.forEach(function(id){s.appendChild(el('a',
          |      {href:'#'+id,'data-id':id,text:id.replace(/^(model|exposure)\.graft\./,''),
          |       click:function(){show(id);}}));});}
          |  group('Models',MANIFEST.nodes);
          |  group('Exposures',MANIFEST.exposures);
          |  var h=location.hash.slice(1);
          |  if(h&&((MANIFEST.nodes||{})[h]||(MANIFEST.exposures||{})[h]))show(h);
          |  else showDag();
          |})();
          |</script></body></html>
          |""".stripMargin
      val out = dir.resolve("index.html")
      // the DAG template rides OUTSIDE the <script> block (plain hidden
      // markup — no escaping interplay with the embedded JSONs)
      val dagDiv = "<div id=\"dag\" style=\"display:none\">" + dagSvg + "</div>"
      Files.write(out, (head + manifest + mid + catalog +
        tail.replace("</script></body></html>",
          "</script>" + dagDiv + "</body></html>"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.toString
    }

    /** dbt `test --store-failures`: a data test's VIOLATING rows
      * materialize to an audit table (`dq_failures/<test>` under the
      * target, dbt's `dbt_test__audit.<test_name>`) so triage reads the
      * rows themselves, not just a count. Rerun semantics match dbt's
      * replace — but through the DeltaLite log, so prior runs stay
      * time-travelable instead of dropped. Run metadata (test name,
      * model under test, invocation id) rides as literal columns. The
      * write costs only the failing rows — at 100 TB a passing test
      * writes an empty commit and nothing else. Returns (failure count,
      * audit-table version). */
    def storeTestFailures(s: SparkSession, targetDir: String,
        testName: String, model: String, invocationId: String,
        failures: DataFrame): (Long, Long) = {
      val D = graft.sources.DeltaLite
      val path = s"$targetDir/dq_failures/$testName"
      val stamped = failures
        .withColumn("_test_name", lit(testName))
        .withColumn("_model", lit(model))
        .withColumn("_invocation_id", lit(invocationId))
      val v =
        if (D.latestVersion(path).isEmpty) D.create(s, path, stamped)
        else D.replaceWhere(s, path, lit(true), stamped)
      (D.snapshot(path).totalRows, v)
    }

    /** dbt data-test SEVERITY config (`severity` / `warn_if` /
      * `error_if` — the dbt test-config block): a test's outcome is a
      * THRESHOLDED classification of its failure count, not a bare
      * nonzero check. Exactly dbt's documented decision order:
      *  - `severity: error` (default): `error_if` (default `!=0`)
      *    checked FIRST — met ⇒ status "error"; otherwise `warn_if`
      *    (default `!=0`) — met ⇒ "warn"; else "pass";
      *  - `severity: warn`: `error_if` is SKIPPED entirely; `warn_if`
      *    met ⇒ "warn", else "pass" — the test can never fail a build.
      * Conditions are dbt's comparison grammar (`!=0`, `>10`, `<=3`,
      * ...) against the failure COUNT — so "error only past 100 bad
      * rows, warn past 10" is config, not SQL. Failures store to the
      * audit table ([[storeTestFailures]]) when `storeFailures` —
      * including on warns, dbt's behavior. Cost: one count over the
      * test's failing rows; a passing test at 100 TB counts an empty
      * frame. */
    final case class TestConfig(severity: String = "error",
        warnIf: String = "!=0", errorIf: String = "!=0",
        storeFailures: Boolean = false) {
      require(Seq("error", "warn").contains(severity),
        s"severity must be error|warn, got '$severity'")
    }

    final case class TestResult(status: String, failures: Long,
        auditVersion: Option[Long])

    private[graft] def conditionMet(cond: String, n: Long): Boolean = {
      // ≤18 digits: within Long range, so the threshold can never
      // escape the documented loud IllegalArgumentException as a
      // NumberFormatException
      val m = """\s*(!=|>=|<=|>|<|=)\s*(\d{1,18})\s*""".r
      cond match {
        case m(op, v) =>
          val t = v.toLong
          op match {
            case "!=" => n != t; case ">=" => n >= t; case "<=" => n <= t
            case ">" => n > t; case "<" => n < t; case "=" => n == t
          }
        case _ => throw new IllegalArgumentException(
          s"unparseable test condition '$cond' (expected e.g. !=0, >10)")
      }
    }

    def runTest(s: SparkSession, targetDir: String, testName: String,
        model: String, invocationId: String, failures: DataFrame,
        config: TestConfig = TestConfig()): TestResult = {
      // config validates BEFORE the frame executes: a typo'd threshold
      // must fail the invocation, not a half-written audit table
      Seq(config.warnIf, config.errorIf).foreach(conditionMet(_, 0L))
      // ONE execution of the failures frame either way: the store's
      // replace-write already returns the stored row count, which IS
      // the failure count — counting separately would compute an
      // arbitrarily expensive test frame twice
      val (n, audit) =
        if (config.storeFailures) {
          val (stored, v) = storeTestFailures(s, targetDir, testName,
            model, invocationId, failures)
          (stored, Some(v))
        } else (failures.count(), None)
      val status =
        if (config.severity == "error" && conditionMet(config.errorIf, n))
          "error"
        else if (conditionMet(config.warnIf, n)) "warn"
        else "pass"
      TestResult(status, n, audit)
    }

    /** dbt `on_schema_change` incremental config: the four-way declared
      * policy an incremental model applies when a batch's schema
      * diverges from the already-materialized target (dbt docs, the
      * incremental materialization's `process_schema_changes`):
      *  - `ignore` (dbt's default): NEW batch columns are dropped — the
      *    declared policy makes the drop explicit user intent — and the
      *    insert lands on the target's schema (columns the batch omits
      *    fill NULL, Delta append semantics).
      *  - `append_new_columns`: new columns evolve INTO the target
      *    ([[graft.sources.DeltaLite.appendEvolve]] — history reads
      *    them as NULL through the log schema, zero file rewrites);
      *    columns missing from the batch are kept, NULL for new rows.
      *  - `sync_all_columns`: new columns evolve in AND target columns
      *    absent from the batch are DROPPED first
      *    ([[graft.sources.DeltaLite.dropColumn]] — metadata-only
      *    through column mapping, no data rewrite at any scale).
      *  - `fail`: any divergence raises BEFORE any commit — the target
      *    version is untouched.
      * Every path is metadata + the append itself: at 100 TB the policy
      * costs exactly what the batch write costs. */
    def incrementalAppend(s: SparkSession, path: String, batch: DataFrame,
        onSchemaChange: String = "ignore"): Long = {
      val D = graft.sources.DeltaLite
      val (tgt, added, removed) = schemaDivergence(path, batch)
      onSchemaChange match {
        case "ignore" =>
          D.append(s, path, batch.select(
            batch.columns.filter(tgt.contains).map(batch.col).toSeq: _*))
        case "append_new_columns" =>
          D.appendEvolve(s, path, batch)
        case "sync_all_columns" =>
          removed.foreach(c => D.dropColumn(path, c))
          D.appendEvolve(s, path, batch)
        case "fail" =>
          failOnDivergence(added, removed)
          D.append(s, path, batch)
        case other => unknownPolicy(other)
      }
    }

    /** (target columns, batch-only columns, target-only columns) — the
      * shared divergence census behind every on_schema_change policy. */
    private def schemaDivergence(path: String,
        batch: DataFrame): (Seq[String], Seq[String], Seq[String]) = {
      val tgt = graft.sources.DeltaLite.snapshot(path)
        .schema.fieldNames.toSeq
      val have = batch.columns.toSeq
      (tgt, have.filterNot(tgt.contains), tgt.filterNot(have.contains))
    }

    private def failOnDivergence(added: Seq[String],
        removed: Seq[String]): Unit =
      if (added.nonEmpty || removed.nonEmpty)
        throw new IllegalArgumentException(
          "on_schema_change=fail: batch schema diverges from the " +
          s"target (added: [${added.mkString(", ")}]; " +
          s"removed: [${removed.mkString(", ")}])")

    private def unknownPolicy(other: String): Nothing =
      throw new IllegalArgumentException(
        s"unknown on_schema_change policy '$other' " +
        "(ignore | append_new_columns | sync_all_columns | fail)")

    /** dbt incremental model, `merge` strategy, with BOTH incremental
      * configs composed the way dbt's materialization does: the
      * `on_schema_change` policy reconciles a diverged batch schema
      * FIRST (same four modes as [[incrementalAppend]] — ignore drops
      * new batch columns, append_new_columns/sync_all_columns evolve
      * the target, fail raises before any commit), then the upsert runs
      * as a full MERGE with `incremental_predicates` scoping the target
      * side ([[graft.sources.DeltaLite.mergeClauses]] — candidate-file
      * pruning from the predicate's stats bounds). One batch-sized
      * write at any scale. */
    def incrementalMerge(s: SparkSession, path: String, batch: DataFrame,
        keys: Seq[String], onSchemaChange: String = "ignore",
        incrementalPredicates: Seq[String] = Nil): Long = {
      val D = graft.sources.DeltaLite
      val M = graft.operators.Merge
      val (tgt, added, removed) = schemaDivergence(path, batch)
      val clauses = Seq(M.MatchedUpdate(None, Map.empty),
        M.NotMatchedInsert(None))
      def merge(src: DataFrame, evolve: Boolean) =
        D.mergeClauses(s, path, src, keys, clauses,
          schemaEvolution = evolve,
          incrementalPredicates = incrementalPredicates)
      onSchemaChange match {
        case "ignore" =>
          merge(batch.select(
            batch.columns.filter(tgt.contains).map(batch.col).toSeq: _*),
            evolve = false)
        case "append_new_columns" => merge(batch, evolve = true)
        case "sync_all_columns" =>
          removed.filterNot(keys.contains)
            .foreach(c => D.dropColumn(path, c))
          merge(batch, evolve = true)
        case "fail" =>
          failOnDivergence(added, removed)
          merge(batch, evolve = false)
        case other => unknownPolicy(other)
      }
    }

    /** dbt SEMANTIC-LAYER metric (`metrics:` block): a declared measure
      * (aggregation + expression) over a model, with a time dimension
      * and optional categorical dimensions, COMPILED to SQL at a
      * requested grain. The compiler is closed-form string generation —
      * a metric is METADATA, so any surface holding the spec (BI tool,
      * notebook, this engine) emits the identical query; the generated
      * text is engine-portable (date_trunc + ordinal GROUP BY run
      * verbatim on Spark and DuckDB, which is how the d12 oracle gates
      * it). Measures are declared in exact integer units (cents,
      * counts) so metric values are reproducible across engines and
      * partial-aggregation orders — the same discipline as every money
      * column in this engine. */
    final case class Metric(name: String, model: String, agg: String,
        measure: String, timeDim: String, dims: Seq[String] = Nil)

    /** Declared metrics for the demo marts (the analogue of
      * `metrics:` in schema.yml). */
    val metrics: Seq[Metric] = Seq(
      Metric("revenue_cents", "gold_daily_revenue", "sum",
        "CAST(round(revenue * 100) AS BIGINT)", "day"),
      Metric("items_sold", "gold_daily_revenue", "sum", "n_items", "day"),
      Metric("events", "gold_daily_events", "sum", "n", "day",
        dims = Seq("event_type")),
      Metric("event_value_cents", "gold_daily_events", "sum",
        "CAST(round(sum_value * 100) AS BIGINT)", "day",
        dims = Seq("event_type")))

    /** dbt SAVED QUERY (`saved_queries:` block): several declared
      * metrics + shared dimensions + a grain, compiled into ONE SQL
      * artifact — the semantic layer's reusable report. All measures
      * aggregate in a single pass over the model (one scan, one keyed
      * shuffle at any scale — N metrics never cost N queries), and the
      * generated text is engine-portable exactly like d12–d14, which is
      * how the d15 oracle gates it verbatim on both engines. dbt's
      * `exports:` materializes the compiled result as a table; that is
      * [[exportSavedQuery]]. */
    final case class SavedQuery(name: String, metricNames: Seq[String],
        dims: Seq[String], grain: String, where: Seq[String] = Nil)

    /** Declared saved queries (the analogue of `saved_queries:` in
      * semantic_models.yml). */
    val savedQueries: Seq[SavedQuery] = Seq(
      SavedQuery("events_monthly_rollup",
        Seq("events", "event_value_cents"), Seq("event_type"), "month"))

    def compileSavedQuerySql(sq: SavedQuery): String = {
      val ms = sq.metricNames.map(n => metrics.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"unknown metric $n")))
      require(ms.nonEmpty, s"saved query ${sq.name}: no metrics")
      require(ms.map(_.model).distinct.size == 1 &&
        ms.map(_.timeDim).distinct.size == 1,
        s"saved query ${sq.name}: metrics must share model + time dim")
      // requested group-bys must be declared dims on EVERY metric, or
      // the single-pass aggregate would re-grain a measure silently
      sq.dims.foreach(d => require(ms.forall(_.dims.contains(d)),
        s"saved query ${sq.name}: dimension '$d' is not declared on " +
          s"every metric"))
      val head = ms.head
      val timeCol = s"CAST(date_trunc('${sq.grain}', ${head.timeDim}) AS DATE)"
      val dimCols = sq.dims.map(d => s"$d, ").mkString
      val keys = 1 to (sq.dims.size + 1)
      // dbt `where:` query params: declared row filters conjoined ahead
      // of the aggregate — they reach the scan (pushdown), so a filtered
      // saved query reads LESS, never more
      val whereSql =
        if (sq.where.isEmpty) ""
        else s" WHERE ${sq.where.map(w => s"($w)").mkString(" AND ")}"
      s"SELECT $timeCol AS ${head.timeDim}_${sq.grain}, $dimCols" +
        ms.map(m => s"CAST(${m.agg}(${m.measure}) AS BIGINT) AS ${m.name}")
          .mkString(", ") +
        s" FROM ${head.model}$whereSql GROUP BY ${keys.mkString(", ")} " +
        s"ORDER BY ${keys.map(k => s"$k ASC NULLS LAST").mkString(", ")}"
    }

    /** dbt saved-query `exports:`: materialize the compiled artifact as
      * a DeltaLite table under the target dir (export_as: table).
      * Rerun = full replace, prior exports stay time-travelable.
      * Returns the export path. */
    def exportSavedQuery(s: SparkSession, targetDir: String,
        sq: SavedQuery): String = {
      val D = graft.sources.DeltaLite
      val path = s"$targetDir/exports/${sq.name}"
      val df = s.sql(compileSavedQuerySql(sq))
      if (D.latestVersion(path).isEmpty) D.create(s, path, df)
      else D.replaceWhere(s, path, lit(true), df)
      path
    }

    /** MetricFlow CONVERSION metric (the fourth declared metric type
      * next to simple/ratio/cumulative): of the base events, how many
      * saw a conversion event for the SAME entity within the window —
      * funnel-as-metadata. Compiles to candidate generation by ENTITY
      * EQUALITY (the date window is a residual on the per-entity join,
      * never a corpus range join), a distinct hit set at (entity, day)
      * grain, and one LEFT JOIN flag per base event — three keyed
      * shuffles bounded by the event table, portable verbatim on both
      * engines (BETWEEN + INTERVAL n DAY, ppm floor-division). */
    final case class ConversionMetric(name: String, model: String,
        entity: String, timeDim: String, baseFilter: String,
        conversionFilter: String, windowDays: Int)

    def compileConversionMetricSql(cm: ConversionMetric,
        grain: String): String = {
      require(cm.windowDays >= 0,
        s"conversion metric ${cm.name}: negative window")
      // inline subqueries, no WITH — the compiled artifact must embed
      // under a caller's own CTE prelude (the d12-family composition
      // contract), and SQL does not nest WITH
      val base =
        s"(SELECT ${cm.entity} AS entity, ${cm.timeDim} AS d " +
          s"FROM ${cm.model} WHERE (${cm.baseFilter}))"
      val conv =
        s"(SELECT DISTINCT ${cm.entity} AS entity, ${cm.timeDim} AS d " +
          s"FROM ${cm.model} WHERE (${cm.conversionFilter}))"
      s"""SELECT CAST(date_trunc('$grain', d) AS DATE)
                  AS ${cm.timeDim}_$grain,
                CAST(count(*) AS BIGINT) AS base_events,
                CAST(sum(converted) AS BIGINT) AS ${cm.name},
                CAST(floor((1000000.0 * CAST(sum(converted) AS DOUBLE))
                  / CAST(count(*) AS DOUBLE)) AS BIGINT)
                  AS ${cm.name}_rate_ppm
         FROM (
           SELECT b.d,
                  CASE WHEN h.entity IS NOT NULL THEN 1 ELSE 0 END
                    AS converted
           FROM $base b
           LEFT JOIN (
             SELECT DISTINCT b2.entity, b2.d
             FROM $base b2 JOIN $conv c ON c.entity = b2.entity
               AND c.d BETWEEN b2.d
                 AND CAST(b2.d + INTERVAL ${cm.windowDays} DAY AS DATE)
           ) h ON b.entity = h.entity AND b.d = h.d
         ) flagged
         GROUP BY 1 ORDER BY 1 ASC NULLS LAST"""
    }

    /** dbt `source freshness` declaration: a source table's
      * `loaded_at_field` plus the warn/error staleness thresholds of a
      * `freshness:` block in schema.yml. */
    final case class SourceFreshness(source: String, loadedAtField: String,
        warnAfterSec: Long, errorAfterSec: Long) {
      require(warnAfterSec <= errorAfterSec,
        s"source $source: warn_after must not exceed error_after")
    }

    /** The `dbt source freshness` command: per source, one MAX(loaded_at)
      * aggregate (over a DeltaLite source this is the s50 metadata-only
      * rewrite — a log read; over raw parquet it is a scan of ONE column
      * with every other column pruned), age measured against the caller's
      * `asOf` instant (explicit, never wall-clock — deterministic reruns
      * and backfills), statused pass/warn/error against the declared
      * thresholds, and recorded as dbt's `sources.json` artifact next to
      * manifest.json / run_results.json / catalog.json. Returns
      * (source → (status, max_loaded_at epoch-sec, age_sec)). */
    def checkSourceFreshness(s: SparkSession, dir: String,
        targetDir: String, specs: Seq[SourceFreshness],
        asOf: java.sql.Timestamp): Map[String, (String, Long, Long)] = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val asOfSec = asOf.getTime / 1000L
      // evaluated PER SPEC (the same source may carry several threshold
      // declarations); the returned map keys by source, last spec wins
      val perSpec: Seq[(SourceFreshness, (String, Long, Long))] =
        specs.map { sp =>
          val mx = Tables.t(s, dir, sp.source)
            .agg(max(unix_timestamp(col(sp.loadedAtField))).as("mx"))
            .head()
          val maxSec = if (mx.isNullAt(0)) 0L else mx.getLong(0)
          val age = asOfSec - maxSec
          val status =
            if (maxSec == 0L || age > sp.errorAfterSec) "error"
            else if (age > sp.warnAfterSec) "warn"
            else "pass"
          sp -> ((status, maxSec, age))
        }
      val doc =
        ("results" -> perSpec.map { case (sp, (status, maxSec, age)) =>
          ("unique_id" -> s"source.graft.${sp.source}") ~
          ("status" -> status) ~
          ("max_loaded_at" -> maxSec) ~
          ("age" -> age) ~
          ("criteria" -> (("warn_after" -> sp.warnAfterSec) ~
            ("error_after" -> sp.errorAfterSec)))
        }) ~ ("as_of" -> asOfSec)
      val out = Paths.get(targetDir)
      Files.createDirectories(out)
      Files.write(out.resolve("sources.json"),
        JsonMethods.pretty(JsonMethods.render(doc))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      perSpec.map { case (sp, r) => sp.source -> r }.toMap
    }

    /** dbt `seed`: a version-controlled CSV materialized as a first-class
      * DAG node — the seed is just a Model whose build is a schema'd CSV
      * read, so `ref()` from downstream models, fingerprint-based
      * state:modified+ reuse, contracts and hooks all apply unchanged.
      * (dbt seeds are for SMALL reference data — the read is one file on
      * the driver-side listing; never use a seed for fact data.) The
      * model's `code` carries the CSV's SHA-256 like dbt's seed
      * checksum, so editing the file re-fingerprints the node and
      * state:modified+ rebuilds exactly its subtree. */
    def seedModel(name: String, csvPath: String,
        schema: org.apache.spark.sql.types.StructType): Model = {
      val checksum = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(Paths.get(csvPath)))
        .map("%02x".format(_)).mkString
      Model(name, Nil,
        (s, _) => s.read.schema(schema).option("header", "true").csv(csvPath),
        code = s"seed:$csvPath:$checksum")
    }

    /** Compile `m` to SQL at `grain`. The FROM relation defaults to the
      * metric's model name (a view/table of the materialized mart). */
    def compileMetricSql(m: Metric, grain: String): String = {
      val timeCol = s"CAST(date_trunc('$grain', ${m.timeDim}) AS DATE)"
      val dimCols = m.dims.map(d => s"$d, ").mkString
      val keys = 1 to (m.dims.size + 1)
      s"SELECT $timeCol AS ${m.timeDim}_$grain, $dimCols" +
        s"CAST(${m.agg}(${m.measure}) AS BIGINT) AS ${m.name} " +
        s"FROM ${m.model} GROUP BY ${keys.mkString(", ")} " +
        s"ORDER BY ${keys.map(k => s"$k ASC NULLS LAST").mkString(", ")}"
    }

    /** dbt DERIVED metric: a ratio of two DECLARED metrics (by name) —
      * `expr: metric('a') / metric('b')` in dbt's semantic layer. Both
      * inputs must live on the same model/time dimension and declare
      * IDENTICAL dims (same-model dim-aligned ratios compile to ONE
      * pass; a cross-model or cross-dim ratio needs an aligned join —
      * declare it as its own Metric instead). */
    final case class DerivedMetric(name: String, num: String, den: String)

    /** Compile a derived ratio at `grain`: both input measures aggregate
      * in the SAME pass, and the ratio emits in exact MILLI-units via
      * floor((1000·num)/den) — num·1000 stays under 2^53 for any sane
      * measure (exact in IEEE doubles), the division is the identical
      * double on both engines, so the floor is engine-portable without
      * either engine's integer-division operator (`div` vs `//`). */
    def compileDerivedMetricSql(dm: DerivedMetric, grain: String): String = {
      val n = metrics.find(_.name == dm.num).getOrElse(
        throw new IllegalArgumentException(s"unknown metric ${dm.num}"))
      val d = metrics.find(_.name == dm.den).getOrElse(
        throw new IllegalArgumentException(s"unknown metric ${dm.den}"))
      require(n.model == d.model && n.timeDim == d.timeDim,
        s"derived metric ${dm.name}: inputs must share model + time dim")
      require(n.dims == d.dims,
        s"derived metric ${dm.name}: inputs must declare identical dims")
      val timeCol = s"CAST(date_trunc('$grain', ${n.timeDim}) AS DATE)"
      val dimCols = n.dims.map(c => s"$c, ").mkString
      val keys = 1 to (n.dims.size + 1)
      s"SELECT $timeCol AS ${n.timeDim}_$grain, $dimCols" +
        s"CAST(${n.agg}(${n.measure}) AS BIGINT) AS ${n.name}, " +
        s"CAST(${d.agg}(${d.measure}) AS BIGINT) AS ${d.name}, " +
        s"CAST(floor((1000.0 * CAST(${n.agg}(${n.measure}) AS DOUBLE)) " +
        s"/ CAST(${d.agg}(${d.measure}) AS DOUBLE)) AS BIGINT) " +
        s"AS ${dm.name} " +
        s"FROM ${n.model} GROUP BY ${keys.mkString(", ")} " +
        s"ORDER BY ${keys.map(k => s"$k ASC NULLS LAST").mkString(", ")}"
    }

    /** dbt/MetricFlow CUMULATIVE metric: a base metric accumulated over
      * the grain series — all-time running total, or grain-to-date when
      * `grainToDate` names a coarser calendar unit (MTD/YTD). Compiles
      * to the base metric's single-pass aggregate plus ONE window sum
      * over the GRAIN-cardinality frame (days/months — the aggregate,
      * never the facts; the "rank the aggregate" discipline, so the
      * unpartitioned window is calendar-bounded at any data scale).
      * `ROWS UNBOUNDED PRECEDING` over exact BIGINTs runs verbatim on
      * both engines. */
    final case class CumulativeMetric(name: String, base: String,
        grainToDate: Option[String] = None)

    def compileCumulativeMetricSql(cm: CumulativeMetric,
        grain: String): String = {
      val b = metrics.find(_.name == cm.base).getOrElse(
        throw new IllegalArgumentException(s"unknown metric ${cm.base}"))
      require(b.dims.isEmpty,
        s"cumulative metric ${cm.name}: base must be undimensioned")
      val timeAlias = s"${b.timeDim}_$grain"
      val part = cm.grainToDate.map(g =>
        s"PARTITION BY CAST(date_trunc('$g', $timeAlias) AS DATE) ")
        .getOrElse("")
      s"SELECT $timeAlias, ${b.name}, " +
        s"CAST(sum(${b.name}) OVER (${part}ORDER BY $timeAlias ASC " +
        s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        s"AS ${cm.name} " +
        s"FROM (${compileMetricSql(b, grain)}) " +
        s"ORDER BY 1 ASC NULLS LAST"
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------- S2
    // CSV source (dbt seed): write customers to CSV, read back with an
    // explicit schema (schema-on-write, as dbt seeds declare types), join
    // a dimension. Oracle = the same derivation from the original table
    // (CSV round-trip is value-preserving: Spark writes shortest-repr
    // doubles, which parse back exactly).
    QueryDef("s2_csv_source", (s, dir) => {
      val path = tmp("s2_csv")
      t(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.option("header", "true").schema(schema).csv(path)
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          expr("round((sum(c_acctbal))*100)/100").as("total_bal"))
        .orderBy(col("n_name").asc_nulls_last)
    }, Some(
      """SELECT n_name, count(*) AS n_customers,
                (round((sum(c_acctbal))*100)/100) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S3
    // JSON-lines source: write an events slice to JSON, read back with an
    // explicit schema (timestamps excluded — JSON timestamp formats are
    // the classic round-trip trap; the props JSON-in-string column is the
    // payload of interest and survives exactly).
    QueryDef("s3_json_source", (s, dir) => {
      val path = tmp("s3_json")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .write.mode("overwrite").json(path)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType)))
      s.read.schema(schema).json(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(value))*100)/100").as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy(col("event_type").asc_nulls_last)
    }, Some(
      """SELECT event_type, count(*) AS n,
                (round((sum(value))*100)/100) AS sum_value,
                CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S4
    // Delta snapshot read (latest version): create v0 with the closed
    // orders, append the open ones, read the latest snapshot.
    QueryDef("s4_delta_snapshot", (s, dir) => {
      val path = tmp("s4_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderstatus") === "F"))
      DeltaLite.append(s, path, o.filter(col("o_orderstatus") === "O"))
      DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders WHERE o_orderstatus IN ('F','O')
         GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S5
    // Time travel (VERSION AS OF 0): same table lineage as S4, but read
    // the initial version after later commits exist.
    QueryDef("s5_time_travel", (s, dir) => {
      val path = tmp("s5_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderstatus") === "F"))
      DeltaLite.append(s, path, o.filter(col("o_orderstatus") === "O"))
      DeltaLite.read(s, path, asOf = Some(0L))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S6
    // Table materialization (dbt `table` / CREATE TABLE AS): materialize
    // the gold mart to parquet, read it back as a table.
    QueryDef("s6_table_sink", (s, dir) => {
      val path = tmp("s6_gold")
      Pipeline.goldDailyRevenue(s, dir).write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter(col("n_items") >= 5)
        .orderBy(col("day").asc_nulls_last)
    }, Some(
      """SELECT CAST(l_shipdate AS DATE) AS day,
                (round((sum(l_extendedprice * (1 - l_discount)))*100)/100) AS revenue,
                count(*) AS n_items
         FROM lineitem GROUP BY 1 HAVING count(*) >= 5
         ORDER BY day ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S7
    // Incremental append (dbt incremental `append`): two half-month
    // batches committed separately, then the union snapshot aggregated.
    QueryDef("s7_append_sink", (s, dir) => {
      val path = tmp("s7_delta")
      val e = Pipeline.silverEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_sec"))
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      DeltaLite.create(s, path, e.filter(col("ts_sec") < cut),
        properties = Map("graft.optimizeWrite" -> "true"))
      DeltaLite.append(s, path, e.filter(col("ts_sec") >= cut))
      DeltaLite.read(s, path)
        .groupBy(col("ts_sec").cast("date").as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day").asc_nulls_last)
    }, Some(
      """SELECT CAST(CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS DATE) AS day,
                count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY day ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S47
    // CHECK constraints as a WRITE GATE (Delta `ALTER TABLE ADD
    // CONSTRAINT`): the table declares `value >= 0` / `event_type IS
    // NOT NULL` predicates once, and every later write path — append,
    // merge, replaceWhere — validates ONLY the rows being written
    // (O(batch), never O(table)). A conforming late batch lands; a
    // dirty batch is REFUSED atomically (the failed append leaves no
    // partial state — the commit-claim contract), so the table can only
    // ever contain conforming rows. The oracle recomputes what the
    // gated table must hold: the conforming slice of the source.
    // MedallionSpec carries the log-replay/drop semantics; this query
    // puts the enforcement outcome itself under the oracle.
    QueryDef("s47_check_constraint", (s, dir) => {
      val path = tmp("s47_delta")
      val e = Pipeline.silverEvents(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts_sec"))
        .filter(col("value") >= 0.0)
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      DeltaLite.create(s, path, e.filter(col("ts_sec") < cut))
      DeltaLite.addConstraint(s, path, "value_non_negative", "value >= 0")
      DeltaLite.addConstraint(s, path, "type_not_null",
        "event_type IS NOT NULL")
      // the conforming late batch lands through the gate
      DeltaLite.append(s, path, e.filter(col("ts_sec") >= cut))
      // the dirty batch (planted negative) is refused atomically
      import s.implicits._
      val dirty = Seq((99999999L, "click", -1.0,
        new java.sql.Timestamp(1704067200000L)))
        .toDF("event_id", "event_type", "value", "ts_sec")
      val refused =
        try { DeltaLite.append(s, path, dirty); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "constraint gate must refuse the dirty batch")
      DeltaLite.read(s, path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(value))*100)/100").as("sum_value"),
          expr("CAST(round(min(value) * 100) AS BIGINT)").as("min_cents"))
        .orderBy(col("event_type").asc_nulls_last)
    }, Some(
      """SELECT event_type, count(*) AS n,
                (round((sum(value))*100)/100) AS sum_value,
                CAST(round(min(value) * 100) AS BIGINT) AS min_cents
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL
           AND value >= 0
         GROUP BY 1 ORDER BY event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S48
    // RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF`): roll the
    // live table state back to a prior version as a NEW commit — the
    // operational undo for a bad load, with the bad version still
    // time-travelable afterwards (history is append-only; RESTORE moves
    // the head, never erases). Lifecycle: create (v0) → corrupting
    // overwrite-append (v1) → RESTORE to v0 (v2). Reading the restored
    // head must equal the v0 content — which the oracle recomputes from
    // the raw source — and the post-restore append proves the table
    // keeps writing normally. Log metadata only: RESTORE re-points live
    // files, costs O(log), never rewrites data at any scale.
    QueryDef("s48_restore", (s, dir) => {
      val path = tmp("s48_delta")
      val daily = Pipeline.goldDailyRevenue(s, dir)
      DeltaLite.create(s, path, daily)                      // v0: good load
      DeltaLite.append(s, path,                             // v1: bad load
        daily.withColumn("revenue", col("revenue") * -1.0))
      DeltaLite.restore(s, path, 0L)                        // v2: undo
      DeltaLite.read(s, path)
        .agg(count(lit(1)).as("n_days"),
          expr("round((sum(revenue))*100)/100").as("revenue"),
          sum(col("n_items")).as("n_items"))
    }, Some(
      """WITH g AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  (round((sum(l_extendedprice * (1 - l_discount)))*100)/100)
                    AS revenue,
                  count(*) AS n_items
           FROM lineitem GROUP BY 1)
         SELECT count(*) AS n_days,
                (round((sum(revenue))*100)/100) AS revenue,
                CAST(sum(n_items) AS BIGINT) AS n_items
         FROM g""")),

    // ------------------------------------------------------------------ S49
    // Automatic MV QUERY REWRITE (plans/MvRewrite — the optimizer half
    // of the MV story; s25/s26/s33 are the maintenance half): a
    // registered materialized view makes any derivable aggregate over
    // the SOURCE transparently re-aggregate the MV instead — same user
    // query, 10^4×-less-IO plan. The lifecycle here: materialize a fact
    // table, build its (day, event_type) rollup MV, register, then run
    // a coarser (day-only) aggregate — the query REQUIREs that the
    // optimized plan scans the MV and never the fact table, so the
    // oracle (recomputing from raw events) is checking the REWRITTEN
    // plan's answer. Measures ride as exact cents-BIGINTs: re-summing
    // MV partials is bit-identical to the direct sum, so the rewrite's
    // equivalence is exact, not approximate. The freshness guard
    // (source version stamped at registration) disarms the rewrite the
    // moment the source advances — stale answers are structurally
    // impossible, and the MV's own refresh query can never feed the old
    // MV back into itself (MedallionSpec proves both).
    QueryDef("s49_mv_rewrite", (s, dir) => {
      val base = tmp("s49_mv")
      val src = s"$base/fact"
      val mvp = s"$base/mv"
      val fact = Pipeline.silverEvents(s, dir)
        .select(col("ts_sec").cast("date").as("day"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      DeltaLite.create(s, src, fact)
      DeltaLite.create(s, mvp, DeltaLite.read(s, src)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("cents")).as("s"), count(lit(1)).as("c"),
          max(col("cents")).as("mx")))
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        sourcePath = src, mvPath = mvp,
        keyMap = Map("day" -> "day", "event_type" -> "event_type"),
        sumMap = Map("cents" -> "s"), cntCol = "c",
        maxMap = Map("cents" -> "mx")))
      try {
        val q = DeltaLite.read(s, src)
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
            max(col("cents")).as("max_cents"))
          .withColumn("avg_value", expr(
            "round((CAST(sum_cents AS DOUBLE) / n / 100.0D) * 10000) / 10000"))
          .orderBy(col("day").asc_nulls_last)
        val roots = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(roots.nonEmpty && roots.forall(_.startsWith(mvp)),
          s"the aggregate must have been rewritten onto the MV, got $roots")
        // force materialization WHILE registered (the DataFrame is
        // lazily re-planned later otherwise, after deregistration)
        val out = q.collect()
        s.createDataFrame(
          java.util.Arrays.asList(out: _*), q.schema)
      } finally graft.plans.MvRewrite.deregister(src)
    }, Some(
      """WITH f AS (
           SELECT CAST(CAST(date_trunc('second', CAST(ts AS TIMESTAMP))
                    AS TIMESTAMP) AS DATE) AS day,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL)
         SELECT day, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                max(cents) AS max_cents,
                round((CAST(sum(cents) AS DOUBLE) / count(*) / 100.0)
                  * 10000) / 10000 AS avg_value
         FROM f GROUP BY day
         ORDER BY day ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S50
    // METADATA-ONLY aggregates (plans/StatsAggRewrite — Delta's
    // OptimizeMetadataOnlyQuery idea over the DeltaLite log): global
    // COUNT(*)/MIN/MAX over a table scan answer from the log's per-file
    // stats as a one-row LocalRelation — zero data I/O, zero executor
    // tasks. These are THE operational queries (row count, freshness
    // max(ts), watermark bounds); at 100 TB they go from a full-table
    // pass to a driver-side log read. The query REQUIREs the plan
    // collapsed (no relation node survives) so the oracle is checking
    // the STATS-derived answer against DuckDB's recompute from raw
    // data. Soundness guards (DV present, COUNT(col), grouped aggs,
    // filters, 32-char string-stat truncation) are MedallionSpec-pinned.
    QueryDef("s50_stats_agg", (s, dir) => {
      val path = tmp("s50_stats")
      val fact = Pipeline.silverEvents(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("ts_sec"))
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      DeltaLite.create(s, path, fact.filter(col("ts_sec") < cut))
      DeltaLite.append(s, path, fact.filter(col("ts_sec") >= cut))
      val q = DeltaLite.read(s, path).agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        min(col("ts_sec")).as("first_ts"),
        max(col("ts_sec")).as("last_ts"))
      val survived = q.queryExecution.optimizedPlan.collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr
      }
      require(survived.isEmpty,
        "the global aggregate must answer from log stats (no scan)")
      q
    }, Some(
      """WITH f AS (
           SELECT event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP))
                    AS TIMESTAMP) AS ts_sec
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL)
         SELECT count(*) AS n,
                min(event_id) AS min_id, max(event_id) AS max_id,
                min(cents) AS min_cents, max(cents) AS max_cents,
                min(ts_sec) AS first_ts, max(ts_sec) AS last_ts
         FROM f""")),

    // ------------------------------------------------------------------ S63
    // READ-SIDE GOVERNANCE — row-filter + column-mask policies as table
    // properties (the lakehouse row-filter/column-mask feature family):
    // the serving reads (DeltaLite.read/scan) filter on RAW values then
    // mask the projection, DML rewrites stay raw (masking a rewrite
    // would corrupt stored rows), the policy travels with the table
    // (clones/RESTORE/time travel), and unenforceable policies fail
    // loudly instead of serving raw data (ScaleSpec pins all of that +
    // the masked-column pruning decline). Here: customers load into a
    // governed table (negative balances filtered, phone masked to
    // last-4), and the analyst aggregate runs over what the POLICY
    // serves — the oracle restates filter+mask inline, so the hash
    // match proves the served frame. Masking is a map-side projection
    // (zero extra shuffles); the row filter participates in pushdown
    // like any user predicate.
    QueryDef("s63_column_mask", (s, dir) => {
      val path = tmp("s63_gov")
      DeltaLite.create(s, path,
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment"), col("c_name"), col("c_acctbal")),
        properties = Map(
          "graft.rowFilter" -> "c_acctbal >= 0.0D",
          "graft.mask.c_name" -> "last4"))
      DeltaLite.read(s, path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_name")).as("n_masked_names"),
          max(col("c_name")).as("max_masked_name"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
            .as("bal_cents"))
        .orderBy(col("c_mktsegment").asc_nulls_last)
    }, Some(
      """WITH gov AS (
           -- DuckDB lateral column aliases: naming this c_name would
           -- make the expression's own c_name reference bind to the
           -- alias being defined (circular) — use a fresh name
           SELECT c_mktsegment,
                  repeat('*', greatest(length(c_name) - 4, 0)) ||
                    substring(c_name, greatest(length(c_name) - 3, 1))
                    AS masked_name,
                  c_acctbal
           FROM customer WHERE c_acctbal >= 0.0)
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT masked_name) AS BIGINT)
                  AS n_masked_names,
                max(masked_name) AS max_masked_name,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS bal_cents
         FROM gov GROUP BY 1
         ORDER BY c_mktsegment ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S51
    // GENERATE symlink_format_manifest — the interop bridge to
    // log-unaware engines (Presto/Trino/Athena/Hive external tables):
    // export the live file set as plain-text manifests, then prove a
    // reader that knows NOTHING about the log reproduces the table by
    // following the manifest alone. The lifecycle exercises staleness
    // correctness: create → append → DELETE (file rewrite) →
    // re-generate; the manifest must serve post-delete truth (the
    // rewritten file, not the dead one). Export is log-metadata-only;
    // the manifest read collects one line per FILE (bounded by file
    // count, not rows). DV tables refuse — MedallionSpec pins that and
    // the partitioned per-partition layout.
    QueryDef("s51_manifest", (s, dir) => {
      val path = tmp("s51_delta")
      val fact = Pipeline.silverEvents(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val cut = 5000000L
      DeltaLite.create(s, path, fact.filter(col("event_id") < cut))
      DeltaLite.append(s, path, fact.filter(col("event_id") >= cut))
      DeltaLite.delete(s, path, col("event_type") === "error")
      val manifests = DeltaLite.generateSymlinkManifest(s, path)
      // a log-unaware reader: follow the manifest lines, read parquet
      val files = manifests.flatMap(m =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(m)), "UTF-8").split("\n").toSeq)
        .filter(_.nonEmpty)
      s.read.parquet(files: _*)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("event_type").asc_nulls_last)
    }, Some(
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL
           AND event_type <> 'error'
         GROUP BY 1 ORDER BY event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S52
    // GROUPED metadata-only aggregates — the partition-key GROUP BY twin
    // of s50 (Delta's OptimizeMetadataOnlyQuery): per-partition
    // COUNT(*)/MIN/MAX over a partitioned table answer from the commit
    // log's per-branch partition literals + file stats, no scan. The
    // query REQUIREs the optimized plan holds no relation at all —
    // `SELECT status, count(*), min/max(...) GROUP BY status` over a
    // 100 TB day-partitioned table is a driver-side log read (THE
    // operational census every lakehouse dashboard runs hourly). Two
    // commits per partition prove multi-file merge; the oracle
    // recomputes from raw rows.
    QueryDef("s52_partition_stats_agg", (s, dir) => {
      val path = tmp("s52_pstats")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cut = 3000000L
      DeltaLite.create(s, path, o.filter(col("o_orderkey") < cut),
        partitionBy = Seq("o_orderstatus"))
      DeltaLite.append(s, path, o.filter(col("o_orderkey") >= cut))
      val q = DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
      val survived = q.queryExecution.optimizedPlan.collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr
      }
      require(survived.isEmpty,
        "the partition-key aggregate must answer from log stats (no scan)")
      q.orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
                max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
         FROM orders
         GROUP BY 1 ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S31
    // Auto compaction (Delta `delta.autoOptimize.autoCompact`): the table
    // opts in via `graft.autoCompact`, three priority slices land as
    // separate append commits, and crossing the small-file threshold
    // makes the LAST append self-compact in a follow-up OPTIMIZE_SMALL
    // commit — no maintenance job to schedule. The oracle proves the
    // layout op never touches logical content; the file-count collapse,
    // history entry, and time-travel behavior are ScaleSpec-asserted.
    // At 100 TB the check is log-metadata-only per write, and compaction
    // cost stays O(small files), never O(table).
    QueryDef("s31_auto_compact", (s, dir) => {
      val path = tmp("s31_ac")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      DeltaLite.create(s, path,
        o.filter(col("o_orderpriority") === "1-URGENT"),
        properties = Map("graft.autoCompact" -> "true",
          "graft.autoCompact.minRows" -> "100000000",
          "graft.autoCompact.minNumFiles" -> "3"))
      DeltaLite.append(s, path, o.filter(col("o_orderpriority") === "2-HIGH"))
      DeltaLite.append(s, path, o.filter(col("o_orderpriority") === "3-MEDIUM"))
      DeltaLite.read(s, path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
    }, Some(
      """SELECT o_orderpriority, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S32
    // Row tracking (Delta `delta.enableRowTracking`): every committed
    // file takes a disjoint [base, base+rows) id range above a
    // log-carried high-water mark, and `_row_id` = base + in-file
    // position. With one SORTED file per commit the ids are a pure
    // function of commit order, so DuckDB restates them as
    // row_number() per slice with the appended slice offset by the
    // first slice's count — the oracle proves the allocation contract
    // (dense per file, disjoint across commits, append starts at the
    // mark). Stability under DV deletes/RESTORE and fresh-after-rewrite
    // are ScaleSpec-asserted.
    QueryDef("s32_row_tracking", (s, dir) => {
      val path = tmp("s32_rowid")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def slice(st: String) = o.filter(col("o_orderstatus") === st)
        .repartition(1).sortWithinPartitions(col("o_orderkey"))
      DeltaLite.create(s, path, slice("F"),
        properties = Map("delta.enableRowTracking" -> "true"))
      DeltaLite.append(s, path, slice("O"))
      DeltaLite.readWithRowIds(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("_row_id")).as("min_id"),
          max(col("_row_id")).as("max_id"), sum(col("_row_id")).as("sum_id"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH f AS (
           SELECT count(*) AS nf FROM orders WHERE o_orderstatus = 'F'),
         ids AS (
           SELECT o_orderstatus,
                  CASE WHEN o_orderstatus = 'F' THEN 0
                       ELSE (SELECT nf FROM f) END
                    + row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY o_orderkey) - 1 AS rid
           FROM orders WHERE o_orderstatus IN ('F', 'O'))
         SELECT o_orderstatus, count(*) AS n,
                min(rid) AS min_id, max(rid) AS max_id,
                CAST(sum(rid) AS BIGINT) AS sum_id
         FROM ids GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S36
    // STABLE-tier row tracking (Delta row-tracking spec, materialized row
    // ids): s32 proves the fresh-tier allocation contract; this proves the
    // ids (and per-row commit versions) SURVIVE rewrites, because rewrite
    // paths materialize them into the new files. The table is built with
    // deterministic ids (sorted single-file commits), every 10th key is
    // DV-deleted, then REORG + OPTIMIZE rewrite every file — after which
    // each survivor must still carry its commit-time id, and its commit
    // version must still be the commit that first wrote it (0 for the 'F'
    // slice, 1 for the appended 'O' slice), not the rewrite's. The oracle
    // restates per-row identity from the allocation contract and filters
    // to survivors — it can only match if identity survived both rewrites.
    QueryDef("s36_row_tracking_stable", (s, dir) => {
      val path = tmp("s36_rowid")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def slice(st: String) = o.filter(col("o_orderstatus") === st)
        .repartition(1).sortWithinPartitions(col("o_orderkey"))
      DeltaLite.create(s, path, slice("F"),
        properties = Map("delta.enableRowTracking" -> "true"))
      DeltaLite.append(s, path, slice("O"))
      DeltaLite.deleteVectorized(s, path, col("o_orderkey") % 10 === 0)
      DeltaLite.reorgPurge(s, path)
      DeltaLite.compactSmall(s, path, minRows = 1000000000L)
      DeltaLite.readWithRowIds(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("_row_id")).as("min_id"),
          max(col("_row_id")).as("max_id"), sum(col("_row_id")).as("sum_id"),
          max(col("_row_commit_version")).as("max_commit"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH f AS (
           SELECT count(*) AS nf FROM orders WHERE o_orderstatus = 'F'),
         ids AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderstatus = 'F' THEN 0
                       ELSE (SELECT nf FROM f) END
                    + row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY o_orderkey) - 1 AS rid
           FROM orders WHERE o_orderstatus IN ('F', 'O'))
         SELECT o_orderstatus, count(*) AS n,
                min(rid) AS min_id, max(rid) AS max_id,
                CAST(sum(rid) AS BIGINT) AS sum_id,
                CAST(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END
                     AS BIGINT) AS max_commit
         FROM ids WHERE o_orderkey % 10 <> 0
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S8
    // MERGE upsert (Delta MERGE INTO / dbt incremental `merge`): target =
    // orders before 1997-07; updates = repriced orders from 1997 on
    // (overlapping keys update, new keys insert).
    QueryDef("s8_merge_upsert", (s, dir) => {
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val updates = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000).as("o_totalprice"))
      Merge.upsert(target, updates, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH target AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
         u AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
           FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
         merged AS (
           SELECT CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                       ELSE t.o_orderstatus END AS o_orderstatus,
                  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                       ELSE t.o_totalprice END AS o_totalprice
           FROM target t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey)
         SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM merged GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S10
    // insert_overwrite (Delta replaceWhere / dbt incremental
    // `insert_overwrite` strategy): materialize the daily-events mart,
    // then a late-arriving correction replaces exactly one day's rows
    // (that day re-derived with doubled values) — a file-level swap of
    // the day's files in the commit log, never an O(table) rewrite. The
    // oracle states the corrected end state directly from the fixtures.
    QueryDef("s10_insert_overwrite", (s, dir) => {
      val path = tmp("s10_delta")
      val day = lit("2024-01-10").cast("date")
      val daily = Pipeline.goldDailyEvents(s, dir)
      // cluster rows by day so the overwritten day occupies its own files
      DeltaLite.create(s, path, daily.repartition(8, col("day")))
      val corrected = Pipeline.silverEvents(s, dir)
        .filter(col("ts_sec").cast("date") === day)
        .groupBy(col("ts_sec").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(value * 2))*100)/100").as("sum_value"))
      DeltaLite.replaceWhere(s, path, col("day") === day, corrected)
      DeltaLite.read(s, path)
        .orderBy(col("day").asc_nulls_last, col("event_type").asc_nulls_last)
    }, Some(
      """WITH silver AS (
           SELECT CAST(CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS DATE) AS day,
                  event_type, value
           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL)
         SELECT day, event_type, count(*) AS n,
                (round((sum(CASE WHEN day = DATE '2024-01-10'
                                 THEN value * 2 ELSE value END))*100)/100) AS sum_value
         FROM silver GROUP BY day, event_type
         ORDER BY day ASC NULLS LAST, event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S11
    // Data-skipping read under the oracle gate: lineitem lands in a
    // DeltaLite table range-clustered on ship date (tight per-file
    // min/max), then the 1995 monthly revenue mart reads it through
    // scan() with a ship-date bound — files outside 1995 are pruned
    // before Spark opens them, and the exact row filter still applies.
    // The oracle derives the same mart from the raw fixture, so the
    // pruned read path is hash-checked end-to-end.
    QueryDef("s11_skipping_scan", (s, dir) => {
      val path = tmp("s11_delta")
      val l = t(s, dir, "lineitem")
        .select(col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
      DeltaLite.create(s, path, l.repartitionByRange(8, col("l_shipdate")))
      val lo = java.time.LocalDateTime.of(1995, 1, 1, 0, 0, 0)
      val hi = java.time.LocalDateTime.of(1995, 12, 31, 23, 59, 59)
      DeltaLite.scan(s, path,
          Seq(DeltaLite.ColumnBound("l_shipdate", Some(lo), Some(hi))))
        .filter(col("l_shipdate").between(
          lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
          lit("1995-12-31 23:59:59").cast("timestamp_ntz")))
        .groupBy(month(col("l_shipdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(l_extendedprice * (1 - l_discount)))*100)/100").as("revenue"))
        .orderBy(col("m").asc_nulls_last)
    }, Some(
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS m, count(*) AS n,
                (round((sum(l_extendedprice * (1 - l_discount)))*100)/100) AS revenue
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                              AND TIMESTAMP '1995-12-31 23:59:59'
         GROUP BY 1 ORDER BY m ASC NULLS LAST""")),

    // ------------------------------------------------------------------- S9
    // SCD Type-2 snapshot (dbt snapshot): each user's event_type history
    // as validity intervals. Ties within a second pre-deduped (max
    // event_id wins) so the interval order is total.
    QueryDef("s9_scd2_snapshot", (s, dir) => {
      // last-writer-wins per (user, second) as max_by — a hash aggregate
      // with map-side partial combine, so the shuffle carries one row per
      // group instead of every row plus a window sort (≡ the oracle's
      // row_number()-desc pick; event_id is unique after silver dedup)
      val deduped = Pipeline.silverEvents(s, dir)
        .groupBy(col("user_id"), col("ts_sec"))
        .agg(max_by(col("event_type"), col("event_id")).as("event_type"))
        .select(col("user_id"), col("event_type"), col("ts_sec"))
      Scd2.build(deduped, keys = Seq("user_id"), ts = "ts_sec",
          attrs = Seq("event_type"))
        .orderBy(col("user_id").asc_nulls_last, col("valid_from").asc_nulls_last)
    }, Some(
      """WITH e AS (
           SELECT user_id, event_type,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts_sec,
                  event_id
           FROM events),
         d AS (
           SELECT user_id, event_type, ts_sec FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
                         ORDER BY event_id DESC) AS rn FROM e)
           WHERE rn = 1),
         flagged AS (
           SELECT user_id, event_type, ts_sec,
                  (lag(ts_sec) OVER w IS NULL
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS is_change
           FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC)),
         ch AS (SELECT user_id, event_type, ts_sec FROM flagged WHERE is_change)
         SELECT user_id, event_type,
                ts_sec AS valid_from,
                lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec ASC) AS valid_to,
                lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec ASC) IS NULL AS is_current
         FROM ch
         ORDER BY user_id ASC NULLS LAST, valid_from ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S37
    // dbt snapshot `timestamp` strategy + `invalidate_hard_deletes`: the
    // source is a sequence of DAILY STATES (one row per user per day with
    // events; `updated_at` = the day's last event instant). The timestamp
    // strategy opens an interval whenever `updated_at` moves and stamps
    // `valid_from` with it (source time, not scan time); a user with NO
    // events on a later run day is a hard delete — the open interval
    // closes at that run's instant — and a later reappearance re-inserts.
    // The oracle restates the run calendar + per-user presence segments
    // with the same window algebra over the fixtures.
    QueryDef("s37_scd2_timestamp", (s, dir) => {
      val state = Pipeline.silverEvents(s, dir)
        .withColumn("run_ts", col("ts_sec").cast("date").cast("timestamp"))
        .groupBy(col("user_id"), col("run_ts"))
        .agg(max(col("ts_sec")).as("updated_at"))
      Scd2.buildRuns(state, keys = Seq("user_id"), runTs = "run_ts",
          attrs = Seq("updated_at"), strategy = "timestamp",
          updatedAt = Some("updated_at"), invalidateHardDeletes = true)
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id").asc_nulls_last, col("valid_from").asc_nulls_last)
    }, Some(
      """WITH e AS (
           SELECT user_id,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts_sec
           FROM events),
         state AS (
           SELECT user_id,
                  CAST(CAST(ts_sec AS DATE) AS TIMESTAMP) AS run_ts,
                  max(ts_sec) AS updated_at
           FROM e GROUP BY 1, 2),
         cal AS (
           SELECT run_ts,
                  row_number() OVER (ORDER BY run_ts ASC) AS idx,
                  lead(run_ts) OVER (ORDER BY run_ts ASC) AS next_run_ts
           FROM (SELECT DISTINCT run_ts FROM state)),
         j AS (SELECT st.user_id, st.run_ts, st.updated_at, c.idx, c.next_run_ts
               FROM state st JOIN cal c USING (run_ts)),
         f AS (
           SELECT *,
                  (lag(idx) OVER w IS NULL OR idx <> lag(idx) OVER w + 1
                   OR updated_at IS DISTINCT FROM lag(updated_at) OVER w) AS chg,
                  CASE WHEN (lead(idx) OVER w IS NULL
                             OR lead(idx) OVER w <> idx + 1)
                            AND next_run_ts IS NOT NULL
                       THEN next_run_ts END AS gap_close
           FROM j WINDOW w AS (PARTITION BY user_id ORDER BY idx ASC)),
         g AS (
           SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY idx ASC) AS ivl
           FROM f),
         iv AS (
           SELECT user_id, ivl, min(idx) AS open_idx,
                  min_by(updated_at, idx) AS valid_from,
                  max(gap_close) AS close_ts
           FROM g GROUP BY user_id, ivl)
         SELECT user_id, valid_from,
                coalesce(close_ts,
                  lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY open_idx ASC)) AS valid_to,
                coalesce(close_ts,
                  lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY open_idx ASC)) IS NULL AS is_current
         FROM iv
         ORDER BY user_id ASC NULLS LAST, valid_from ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S38
    // dbt snapshot `check` strategy WITH `invalidate_hard_deletes`: same
    // daily-state source, but change detection compares the tracked attr
    // (the day's dominant event_type) — consecutive same-type days
    // compress into one interval — while absence still closes the open
    // interval at the missed run and reappearance re-inserts even when
    // the type matches (the dbt contract).
    QueryDef("s38_scd2_hard_delete", (s, dir) => {
      val state = Pipeline.silverEvents(s, dir)
        .withColumn("run_ts", col("ts_sec").cast("date").cast("timestamp"))
        .groupBy(col("user_id"), col("run_ts"))
        .agg(max_by(col("event_type"), col("event_id")).as("event_type"))
      Scd2.buildRuns(state, keys = Seq("user_id"), runTs = "run_ts",
          attrs = Seq("event_type"), strategy = "check",
          invalidateHardDeletes = true)
        .orderBy(col("user_id").asc_nulls_last, col("valid_from").asc_nulls_last)
    }, Some(
      """WITH e AS (
           SELECT user_id, event_type, event_id,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts_sec
           FROM events),
         state AS (
           SELECT user_id,
                  CAST(CAST(ts_sec AS DATE) AS TIMESTAMP) AS run_ts,
                  max_by(event_type, event_id) AS event_type
           FROM e GROUP BY 1, 2),
         cal AS (
           SELECT run_ts,
                  row_number() OVER (ORDER BY run_ts ASC) AS idx,
                  lead(run_ts) OVER (ORDER BY run_ts ASC) AS next_run_ts
           FROM (SELECT DISTINCT run_ts FROM state)),
         j AS (SELECT st.user_id, st.run_ts, st.event_type, c.idx, c.next_run_ts
               FROM state st JOIN cal c USING (run_ts)),
         f AS (
           SELECT *,
                  (lag(idx) OVER w IS NULL OR idx <> lag(idx) OVER w + 1
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg,
                  CASE WHEN (lead(idx) OVER w IS NULL
                             OR lead(idx) OVER w <> idx + 1)
                            AND next_run_ts IS NOT NULL
                       THEN next_run_ts END AS gap_close
           FROM j WINDOW w AS (PARTITION BY user_id ORDER BY idx ASC)),
         g AS (
           SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY idx ASC) AS ivl
           FROM f),
         iv AS (
           SELECT user_id, ivl, min(idx) AS open_idx,
                  min_by(run_ts, idx) AS valid_from,
                  min_by(event_type, idx) AS event_type,
                  max(gap_close) AS close_ts
           FROM g GROUP BY user_id, ivl)
         SELECT user_id, event_type, valid_from,
                coalesce(close_ts,
                  lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY open_idx ASC)) AS valid_to,
                coalesce(close_ts,
                  lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY open_idx ASC)) IS NULL AS is_current
         FROM iv
         ORDER BY user_id ASC NULLS LAST, valid_from ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S12
    // Hive-style partitioned parquet sink + dynamic partition overwrite:
    // the daily-events mart lands partitioned by event_type (one directory
    // per value), then a late correction overwrites ONLY the 'click'
    // partition (partitionOverwriteMode=dynamic — partitions absent from
    // the incoming batch survive untouched, an O(partition) swap at the
    // directory level, never an O(table) rewrite). The read-back filter on
    // the partition column prunes to 2 of 5 directories before any data
    // file is opened — at 100 TB this is the difference between listing
    // two directories and scanning the table.
    QueryDef("s12_partitioned_sink", (s, dir) => {
      val path = tmp("s12_part")
      Pipeline.goldDailyEvents(s, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      val corrected = Pipeline.silverEvents(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(col("ts_sec").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(value * 2))*100)/100").as("sum_value"))
      corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(path)
      s.read.parquet(path)
        .filter(col("event_type").isin("click", "view"))
        .select(col("day"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("day").asc_nulls_last, col("event_type").asc_nulls_last)
    }, Some(
      """WITH silver AS (
           SELECT CAST(CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS DATE) AS day,
                  event_type, value
           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL)
         SELECT day, event_type, count(*) AS n,
                (round((sum(CASE WHEN event_type = 'click'
                                 THEN value * 2 ELSE value END))*100)/100) AS sum_value
         FROM silver WHERE event_type IN ('click', 'view')
         GROUP BY day, event_type
         ORDER BY day ASC NULLS LAST, event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S13
    // dbt incremental `delete+insert` strategy (the fourth and last of
    // dbt's incremental strategies next to append/merge/insert_overwrite):
    // delete every target row whose key is in the batch, insert ALL batch
    // rows — the batch legitimately carries multiple rows per key (a
    // repriced order re-lands twice here), which MERGE forbids. Only
    // key-overlapping files are rewritten (same touched-file discipline
    // as MERGE).
    QueryDef("s13_delete_insert", (s, dir) => {
      val path = tmp("s13_delta")
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, target,
        properties = Map("graft.optimizeWrite" -> "true"))
      val base = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000).as("o_totalprice"))
      val batch = base.unionByName(
        base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") + 4000).as("o_totalprice")))
      DeltaLite.deleteInsert(s, path, batch, Seq("o_orderkey"))
      DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH target AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
         base AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
           FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
         batch AS (
           SELECT * FROM base
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice + 4000 FROM base
           WHERE o_orderkey % 10 = 0),
         merged AS (
           SELECT * FROM target t
           WHERE NOT EXISTS (SELECT 1 FROM batch b
                             WHERE b.o_orderkey = t.o_orderkey)
           UNION ALL SELECT * FROM batch)
         SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM merged GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S14
    // The registered `graft-delta` format (GraftDeltaSource): the same
    // lineage as S4/S5 read back through `spark.read.format(...)` with a
    // filter + projection that exercise PrunedFilteredScan — log-stats
    // file pruning, then parquet-level pushdown of the re-applied
    // predicate. Proves the DataSourceRegister surface returns exactly
    // the rows the native read path does, under the hard oracle.
    QueryDef("s14_format_read", (s, dir) => {
      val path = tmp("s14_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderstatus") === "F"))
      DeltaLite.append(s, path, o.filter(col("o_orderstatus") === "O"))
      s.read.format("graft-delta").load(path)
        .filter(col("o_totalprice") > 200000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders
         WHERE o_orderstatus IN ('F','O') AND o_totalprice > 200000
         GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S15
    // Change data feed (Delta CDF / `table_changes`): a lineage of
    // create → delete → append over orders, then `DeltaLite.changes`
    // diffs two versions into (row, _change_type) — computed from
    // TOUCHED FILES only, never a full-table diff. The oracle rebuilds
    // the same states set-algebraically (EXCEPT ALL both ways), pinning
    // the CDF semantics (inserts = new-not-old, deletes = old-not-new,
    // multiset — duplicate rows count) under the hard gate.
    QueryDef("s15_cdf", (s, dir) => {
      val path = tmp("s15_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderstatus").isin("F", "O")),
        properties = Map("graft.optimizeWrite" -> "true"))
      DeltaLite.delete(s, path,
        col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
      DeltaLite.append(s, path, o.filter(col("o_orderstatus") === "P"))
      DeltaLite.changes(s, path, 0L, 2L)
        .groupBy(col("_change_type"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("_change_type").asc_nulls_last,
          col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH v0 AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderstatus IN ('F','O')),
         v2 AS (
           SELECT * FROM v0
           WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderstatus = 'P'),
         cdf AS (
           SELECT *, 'insert' AS _change_type FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v0)
           UNION ALL
           SELECT *, 'delete' AS _change_type FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v2))
         SELECT _change_type, o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM cdf GROUP BY _change_type, o_orderstatus
         ORDER BY _change_type ASC NULLS LAST, o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S16
    // Log-level partition pruning: orders lands in a DeltaLite table
    // HIVE-PARTITIONED by o_orderstatus (partition values ride the commit
    // log, data files carry only the other columns), then the read goes
    // through scan() with an exact bound on the partition column — files
    // of the other partitions are dropped from the log's file list
    // BEFORE any listing or footer is touched (partition values act as
    // exact min==max stats). The re-applied row filter keeps the result
    // exact; the file-count assert lives in ScaleSpec. At 100 TB this is
    // the difference between reading one partition and one table.
    QueryDef("s16_partition_prune", (s, dir) => {
      val path = tmp("s16_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
      DeltaLite.create(s, path, o, partitionBy = Seq("o_orderstatus"))
      DeltaLite.scan(s, path, Seq(DeltaLite.ColumnBound("o_orderstatus",
          Some("F"), Some("F"))))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
    }, Some(
      """SELECT o_orderpriority, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S59
    // JOIN-DRIVEN partition pruning (the DPP analogue): the fact is
    // partitioned by nation key, and the partitions that survive are
    // named only by the DIMENSION'S DATA (nations of one region) — no
    // static filter on the partition column exists for constant folding
    // to see. DynamicBranchPruning probes the filtered nation dim once
    // at plan time and empties the 20 of 25 branches whose key has no
    // partner; at 100 TB the pruned branches are partitions never read.
    // The oracle restates the join in plain SQL — bit-identical results
    // are the proof the rewrite is semantics-free.
    QueryDef("s59_dpp_join", (s, dir) => {
      val path = tmp("s59_delta")
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      DeltaLite.create(s, path, c, partitionBy = Seq("c_nationkey"))
      val dim = t(s, dir, "nation").filter(col("n_regionkey") === 1L)
        .select(col("n_nationkey"))
      DeltaLite.read(s, path)
        .join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(c_acctbal))*100)/100").as("total"))
        .orderBy(col("c_nationkey").asc_nulls_last)
    }, Some(
      """SELECT c_nationkey, count(*) AS n,
                (round((sum(c_acctbal))*100)/100) AS total
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_regionkey = 1
         GROUP BY c_nationkey ORDER BY c_nationkey ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S17
    // Multi-clause MERGE (the full Delta surface: WHEN MATCHED [AND cond]
    // THEN DELETE / UPDATE, WHEN NOT MATCHED [AND cond] THEN INSERT, with
    // first-match-wins priority): expensive matched orders are DELETED,
    // the rest repriced, and only open-status source orders insert. The
    // oracle restates the clause algebra as a FULL OUTER JOIN + CASE.
    QueryDef("s17_merge_clauses", (s, dir) => {
      val path = tmp("s17_delta")
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, target,
        properties = Map("graft.optimizeWrite" -> "true"))
      val source = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.mergeClauses(s, path, source, Seq("o_orderkey"), Seq(
        Merge.MatchedDelete(Some(Merge.src("o_totalprice") > 150000.0)),
        Merge.MatchedUpdate(None,
          Map("o_totalprice" -> (Merge.src("o_totalprice") + 1000.0))),
        Merge.NotMatchedInsert(Some(Merge.src("o_orderstatus") === "O"))))
      DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH target AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
         src AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
         j AS (
           SELECT t.o_orderkey AS tk, s.o_orderkey AS sk,
                  t.o_orderstatus AS tst, s.o_orderstatus AS sst,
                  t.o_totalprice AS tp, s.o_totalprice AS sp
           FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey),
         merged AS (
           SELECT COALESCE(tk, sk) AS o_orderkey,
                  CASE WHEN tk IS NOT NULL THEN tst ELSE sst END AS o_orderstatus,
                  CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN sp + 1000
                       WHEN tk IS NOT NULL THEN tp
                       ELSE sp END AS o_totalprice
           FROM j
           WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL AND sp > 150000)
             AND NOT (tk IS NULL AND sst <> 'O'))
         SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM merged GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S18
    // DESCRIBE HISTORY: the table's commit timeline from the log headers
    // alone (driver-side metadata, no data read). Wall-clock timestamps
    // and file counts vary run-to-run, so the declared result projects
    // the deterministic columns; the full shape (adds/removes/timestamps
    // monotone) is asserted in ScaleSpec.
    QueryDef("s18_table_history", (s, dir) => {
      val path = tmp("s18_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderstatus") === "F"))
      DeltaLite.append(s, path, o.filter(col("o_orderstatus") === "O"))
      DeltaLite.delete(s, path, col("o_totalprice") < 1000.0)
      DeltaLite.history(s, path)
        .select(col("version"), col("operation"))
        .orderBy(col("version").desc_nulls_last)
    }, Some(
      """SELECT * FROM (VALUES (CAST(2 AS BIGINT), 'DELETE'),
                               (1, 'APPEND'), (0, 'CREATE'))
           AS h(version, operation)
         ORDER BY version DESC NULLS LAST""")),

    // ------------------------------------------------------------------ S19
    // CONVERT TO DELTA: a pre-existing Hive-partitioned parquet directory
    // (written by plain Spark, no log) is adopted in place — version 0
    // enumerates the files with footer stats, zero bytes rewritten. The
    // converted table then proves it has the FULL write surface by taking
    // a DELETE, and the read goes through the partition-pruned scan path.
    // Oracle = the same derivation from the raw table.
    QueryDef("s19_convert_to_delta", (s, dir) => {
      val path = tmp("s19_plain")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      DeltaLite.convert(s, path)
      DeltaLite.delete(s, path, col("o_totalprice") < 1000.0)
      DeltaLite.scan(s, path, Seq(DeltaLite.ColumnBound("o_orderstatus",
          Some("P"), Some("P"))))
        .filter(col("o_orderstatus") === "P")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
    }, Some(
      """SELECT o_orderpriority, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders WHERE o_orderstatus = 'P' AND o_totalprice >= 1000
         GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S28
    // COPY INTO (idempotent landing-zone ingestion): a multi-file parquet
    // drop loads once, a re-run is a NO-OP (loaded-file identities ride
    // the load's own commit as txn actions — atomic, crash-safe), and a
    // late-arriving file loads alone without re-reading the old ones.
    // The oracle is the WHOLE source relation exactly once: any double
    // load doubles a count and hash-fails.
    QueryDef("s28_copy_into", (s, dir) => {
      val landing = tmp("s28_landing")
      val path = tmp("s28_target")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"))
      val cut = lit("1997-01-01").cast("timestamp")
      // initial landing-zone drop: 4 data files
      o.filter(col("o_orderdate") < cut).repartition(4)
        .write.mode("overwrite").parquet(landing)
      DeltaLite.create(s, path, o.limit(0))
      DeltaLite.copyInto(s, path, landing) // loads the 4 files
      DeltaLite.copyInto(s, path, landing) // idempotent re-run: no-op
      // late arrival: one more file lands next to the loaded ones
      o.filter(col("o_orderdate") >= cut).coalesce(1)
        .write.mode("append").parquet(landing)
      DeltaLite.copyInto(s, path, landing) // loads ONLY the new file
      DeltaLite.read(s, path)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("yr").asc_nulls_last)
    }, Some(
      """SELECT year(o_orderdate) AS yr, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders GROUP BY 1 ORDER BY yr ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S29
    // Column DEFAULT values (Delta `allowColumnDefaults` / `ALTER COLUMN
    // ... SET DEFAULT`): a write that OMITS the column materializes the
    // default AT WRITE TIME — existing files never change, and changing
    // the default later only affects later writes, so history is an audit
    // of which default was active when each batch landed. Three eras:
    // the create batch supplies the tag explicitly ('manual'), the second
    // era appends WITHOUT the column under the create-time default
    // ('backfill'), the third under an ALTERed expression default that
    // reads the batch's own o_totalprice. The oracle replays the eras as
    // CASE over the date slices.
    QueryDef("s29_column_defaults", (s, dir) => {
      val path = tmp("s29_delta")
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut1 = lit("1995-01-01").cast("timestamp")
      val cut2 = lit("1997-01-01").cast("timestamp")
      DeltaLite.create(s, path,
        o.filter(col("o_orderdate") < cut1).drop("o_orderdate")
          .withColumn("ingest_tag", lit("manual")),
        defaults = Map("ingest_tag" -> "'backfill'"))
      DeltaLite.append(s, path,
        o.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
          .drop("o_orderdate")) // no tag → create-time default
      DeltaLite.setColumnDefault(s, path, "ingest_tag",
        "CASE WHEN o_totalprice > 200000 THEN 'late-big' ELSE 'late-small' END")
      DeltaLite.append(s, path,
        o.filter(col("o_orderdate") >= cut2).drop("o_orderdate"))
      DeltaLite.read(s, path)
        .groupBy(col("ingest_tag"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("ingest_tag").asc_nulls_last)
    }, Some(
      """WITH o AS (
           SELECT o_totalprice,
                  CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
                         THEN 'manual'
                       WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                         THEN 'backfill'
                       WHEN o_totalprice > 200000 THEN 'late-big'
                       ELSE 'late-small' END AS ingest_tag
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT ingest_tag, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM o GROUP BY ingest_tag
         ORDER BY ingest_tag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S20
    // REORG APPLY (PURGE): soft deletes land as deletion vectors (no file
    // rewritten), then REORG materializes them — ONLY the DV-carrying
    // files are rewritten without their deleted rows, every other file is
    // carried by reference (ScaleSpec asserts the file discipline). The
    // read after REORG touches no DV anti-join.
    QueryDef("s20_reorg_purge", (s, dir) => {
      val path = tmp("s20_delta")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
      DeltaLite.create(s, path, li)
      DeltaLite.deleteVectorized(s, path, col("l_quantity") > 45.0)
      DeltaLite.reorgPurge(s, path)
      DeltaLite.read(s, path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(l_quantity))*100)/100").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_last)
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
                (round((sum(l_quantity))*100)/100) AS sum_qty
         FROM lineitem WHERE NOT (l_quantity > 45)
         GROUP BY l_returnflag ORDER BY l_returnflag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S21
    // Column mapping (Delta RENAME/DROP COLUMN): both are METADATA-ONLY
    // commits — no data file is touched at any table size. After the
    // rename, an append under the NEW logical name lands in files whose
    // physical column name matches the pre-rename files (the mapping
    // pins physical names at column birth), so old and new files scan
    // together; the drop then prunes its column at the scan. The oracle
    // restates the end state from the raw table.
    QueryDef("s21_column_mapping", (s, dir) => {
      val path = tmp("s21_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
      DeltaLite.create(s, path, o.filter(col("o_orderkey") % 2 === 0))
      DeltaLite.renameColumn(path, "o_totalprice", "price")
      DeltaLite.append(s, path, o.filter(col("o_orderkey") % 2 === 1)
        .withColumnRenamed("o_totalprice", "price"))
      DeltaLite.dropColumn(path, "o_orderpriority")
      DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(price))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S22
    // Generated columns (Delta GENERATED ALWAYS AS): the table derives
    // o_year = year(o_orderdate) at write time — the batch never carries
    // it — and partitions by it. The read then bounds ONLY the base
    // o_orderdate column: scan() maps the bound through the monotone
    // year() shape onto the generated partition column and prunes whole
    // partitions from the commit log before any file I/O. At 100 TB this
    // is the canonical event-table layout: writers think in timestamps,
    // the layout thinks in days/years, and neither repeats the other's
    // predicate. File-count assert lives in ScaleSpec.
    QueryDef("s22_generated_cols", (s, dir) => {
      val path = tmp("s22_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      DeltaLite.create(s, path, o, partitionBy = Seq("o_year"),
        generated = Map("o_year" -> "year(o_orderdate)"))
      val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-12-31 23:59:59")
      DeltaLite.scan(s, path,
          Seq(DeltaLite.ColumnBound("o_orderdate", Some(lo), Some(hi))))
        .filter(col("o_orderdate").between(lit(lo), lit(hi)))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_year").asc_nulls_last)
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 23:59:59'
         GROUP BY 1 ORDER BY o_year ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S27
    // Bloom-index point lookup: orders lands UNCLUSTERED on the key
    // (hash-distributed), so every file's [min,max] spans the key space
    // and stats prune nothing — the needle-in-time-partitions workload.
    // With graft.bloom.columns=o_orderkey each file carries a per-file
    // bloom in the log; the point scan probes the blooms driver-side
    // and opens ~1 file instead of all (ScaleSpec asserts the count; a
    // false positive only ever opens an extra file, never changes
    // results, which is why the oracle holds exactly).
    QueryDef("s27_bloom_lookup", (s, dir) => {
      val path = tmp("s27_delta")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(8, pmod(col("o_orderkey"), lit(8)))
      DeltaLite.create(s, path, o,
        properties = Map("graft.bloom.columns" -> "o_orderkey"))
      DeltaLite.scan(s, path, Seq(DeltaLite.ColumnBound("o_orderkey",
          Some(33L), Some(33L))))
        .filter(col("o_orderkey") === 33L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("round(o_totalprice*100)/100").as("o_totalprice"))
    }, Some(
      """SELECT o_orderkey, o_orderstatus,
                (round(o_totalprice*100)/100) AS o_totalprice
         FROM orders WHERE o_orderkey = 33""")),

    // ------------------------------------------------------------------ S26
    // Min/max materialized view via DIRTY-GROUP recompute: min/max can't
    // fold incrementally under deletes (dropping a group's max forgets
    // the runner-up), so each refresh re-aggregates ONLY the groups the
    // change feed touched — a key semi-join scan — and replaces exactly
    // those view rows. The delete below removes whole-priority maxima,
    // forcing the runner-up path the oracle then verifies from scratch.
    QueryDef("s26_mv_minmax", (s, dir) => {
      val src = tmp("s26_src")
      val mv = tmp("s26_mv") + "/mv"
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 0) // slim write volume: the mechanism, not the bytes, is under test
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"), col("o_totalprice"))
      // optimized write: every commit of this tiny lifecycle produces
      // right-sized files instead of one sliver per shuffle partition
      DeltaLite.create(s, src,
        o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        properties = Map("graft.optimizeWrite" -> "true"))
      graft.operators.IncrementalMv.refreshFull(s, src, mv,
        Seq("o_orderpriority"), "o_totalprice", properties = Map("graft.optimizeWrite" -> "true"))
      DeltaLite.append(s, src,
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")))
      // removing the top of the price range dirties every group's max
      DeltaLite.delete(s, src, col("o_totalprice") > 250000.0)
      graft.operators.IncrementalMv.refreshFull(s, src, mv,
        Seq("o_orderpriority"), "o_totalprice")
      // DECIMAL exactness lives INSIDE the MV; the query OUTPUT emits the
      // suite-standard round(x*100)/100 double so the driver's hasher sees
      // the same canonical form on both sides (round-5 lesson: raw DECIMAL
      // outputs hash-mismatched in the driver despite bit-equal values).
      DeltaLite.read(s, mv)
        .select(col("o_orderpriority"),
          expr("round(cast(sum_value as double)*100)/100").as("sum_value"),
          col("n_rows"), col("min_value"), col("max_value"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
    }, Some(
      """SELECT o_orderpriority,
                (round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)*100)/100) AS sum_value,
                count(*) AS n_rows,
                min(o_totalprice) AS min_value,
                max(o_totalprice) AS max_value
         FROM orders WHERE o_orderkey % 4 = 0 AND o_totalprice <= 250000
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S25
    // Incremental materialized view (the engine behind dbt incremental
    // models): the view materializes once, then each refresh folds ONLY
    // the change-data-feed rows since the last applied source version
    // (recorded atomically as a txn on the view's own commit) and
    // MERGEs per-key deltas — O(changes), never O(source). The oracle
    // recomputes the final source state from scratch: incremental
    // maintenance must be EXACTLY equivalent (sums ride DECIMAL so
    // addition order cannot drift).
    QueryDef("s25_incremental_mv", (s, dir) => {
      val src = tmp("s25_src")
      val mv = tmp("s25_mv") + "/mv"
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 0) // slim write volume: the mechanism, not the bytes, is under test
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, src,
        o.filter(col("o_orderdate").isNotNull && // stable slice: pre-1997
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderstatus"), col("o_totalprice")),
        properties = Map("graft.optimizeWrite" -> "true"))
      graft.operators.IncrementalMv.refreshSum(s, src, mv,
        Seq("o_orderpriority"), "o_totalprice", properties = Map("graft.optimizeWrite" -> "true"))
      // later loads + corrections land in the SOURCE...
      DeltaLite.append(s, src,
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")))
      DeltaLite.delete(s, src, col("o_totalprice") < 10000.0)
      DeltaLite.update(s, src, col("o_orderstatus") === "F",
        Map("o_totalprice" -> (col("o_totalprice") + 1000.0)))
      // ...and ONE incremental refresh catches the view up
      graft.operators.IncrementalMv.refreshSum(s, src, mv,
        Seq("o_orderpriority"), "o_totalprice", properties = Map("graft.optimizeWrite" -> "true"))
      // DECIMAL exactness lives INSIDE the MV; the query OUTPUT emits the
      // suite-standard round(x*100)/100 double (see s26 note).
      DeltaLite.read(s, mv)
        .select(col("o_orderpriority"),
          expr("round(cast(sum_value as double)*100)/100").as("sum_value"),
          col("n_rows"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
    }, Some(
      """WITH final AS (
           SELECT o_orderpriority,
                  CASE WHEN o_orderstatus = 'F'
                       THEN o_totalprice + 1000 ELSE o_totalprice END AS val
           FROM orders WHERE o_orderkey % 4 = 0 AND o_totalprice >= 10000)
         SELECT o_orderpriority,
                (round(CAST(sum(CAST(val AS DECIMAL(28,4))) AS DOUBLE)*100)/100) AS sum_value,
                count(*) AS n_rows
         FROM final GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S24
    // MERGE WITH SCHEMA EVOLUTION: the source carries o_orderstatus,
    // which the target never had — the evolving merge adds it to the log
    // schema, the merge's own rewrite carries its values, and the
    // UNTOUCHED pre-evolution rows read it as null through the log
    // schema (their files are never rewritten). The oracle restates the
    // star-clause algebra as a full outer join; the null-status group IS
    // the by-reference history.
    QueryDef("s24_merge_evolution", (s, dir) => {
      val path = tmp("s24_delta")
      val o = t(s, dir, "orders")
      DeltaLite.create(s, path,
        o.filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_totalprice")),
        properties = Map("graft.optimizeWrite" -> "true"))
      val source = o
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderstatus"))
      DeltaLite.mergeClauses(s, path, source, Seq("o_orderkey"), Seq(
        Merge.MatchedUpdate(None), Merge.NotMatchedInsert(None)),
        schemaEvolution = true)
      DeltaLite.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH target AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
         src AS (
           SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
         merged AS (
           SELECT CASE WHEN s.o_orderkey IS NOT NULL
                       THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
                  s.o_orderstatus AS o_orderstatus
           FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
         SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM merged GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S23
    // Identity columns (Delta GENERATED ALWAYS AS IDENTITY — the dbt
    // surrogate-key surface): the table allocates `row_id` itself on
    // create AND append; batches never carry it. Allocation is sparse
    // (monotonically_increasing_id spacing — no shuffle, no extra pass,
    // no global ordering barrier; gaps allowed, exactly Delta's
    // contract), ascending across commits via a log-carried high-water
    // mark that advances from the batch's own footer stats (zero extra
    // jobs). The oracle pins what IS deterministic: row count, id
    // uniqueness, and the first allocated value (= START WITH).
    QueryDef("s23_identity", (s, dir) => {
      val path = tmp("s23_delta")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      DeltaLite.create(s, path, o.filter(col("o_orderkey") % 2 === 0),
        identity = Map("row_id" -> DeltaLite.IdentityCol(start = 1L, step = 1L)))
      DeltaLite.append(s, path, o.filter(col("o_orderkey") % 2 === 1))
      DeltaLite.read(s, path)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("row_id")).as("n_ids"),
          min(col("row_id")).as("first_id"))
    }, Some(
      """SELECT count(*) AS n, count(*) AS n_ids,
                CAST(1 AS BIGINT) AS first_id
         FROM orders""")),

    // ------------------------------------------------------------------- D3
    // Column profiling (DuckDB SUMMARIZE / dbt-profiler): one row per
    // column with count/nulls/distinct/min/max/avg — the
    // pre-modeling data-audit artifact. Each column's profile is a lazy
    // 1-row aggregate over the SAME single scan (Catalyst collapses the
    // union of aggregates into one pass per column family); values
    // stringify so heterogeneous column types share one report schema.
    QueryDef("d3_profile", (s, dir) => {
      val c = t(s, dir, "customer")
      def prof(colName: String, numeric: Boolean): DataFrame =
        c.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(colName).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(colName)).as("n_distinct"),
          min(col(colName)).cast("string").as("min_value"),
          max(col(colName)).cast("string").as("max_value"),
          (if (numeric) expr(s"round((avg($colName))*10000)/10000").cast("string")
           else lit(null).cast("string")).as("avg_value"))
          .select(lit(colName).as("column_name"), col("n_rows"),
            col("n_nulls"), col("n_distinct"), col("min_value"),
            col("max_value"), col("avg_value"))
      prof("c_custkey", numeric = true)
        .unionByName(prof("c_name", numeric = false))
        .unionByName(prof("c_nationkey", numeric = true))
        .unionByName(prof("c_acctbal", numeric = true))
        .unionByName(prof("c_mktsegment", numeric = false))
        .orderBy(col("column_name").asc_nulls_last)
    }, Some(
      """WITH p AS (
           SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
                  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                  count(DISTINCT c_custkey) AS n_distinct,
                  CAST(min(c_custkey) AS VARCHAR) AS min_value,
                  CAST(max(c_custkey) AS VARCHAR) AS max_value,
                  CAST(round((avg(c_custkey))*10000)/10000 AS VARCHAR) AS avg_value
           FROM customer
           UNION ALL
           SELECT 'c_name', count(*),
                  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT c_name),
                  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR),
                  CAST(NULL AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_nationkey', count(*),
                  CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT c_nationkey),
                  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR),
                  CAST(round((avg(c_nationkey))*10000)/10000 AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_acctbal', count(*),
                  CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT c_acctbal),
                  CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR),
                  CAST(round((avg(c_acctbal))*10000)/10000 AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_mktsegment', count(*),
                  CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT c_mktsegment),
                  CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR),
                  CAST(NULL AS VARCHAR)
           FROM customer)
         SELECT * FROM p ORDER BY column_name ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D1
    // dbt schema tests (the reference project's test: blocks — unique,
    // not_null, accepted_values, relationships) as one data-quality
    // report: rule name → violation count. Each rule is a lazy 1-row
    // aggregate (no driver actions); the relationship rule is a
    // broadcast-able anti join. At 100 TB every rule is a single
    // partial+final agg or anti join over the scanned table — the same
    // shape dbt compiles its tests to.
    QueryDef("d1_dq_checks", (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      // plant deterministic violations so every rule provably fires: a
      // duplicated key (-1, twice), a NULL custkey, a bad status 'X', and
      // orphan custkey -999 (the NULL custkey also orphans — anti-join
      // null-key semantics match NOT EXISTS in both engines)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .unionByName(Seq(
          (-2L, Option.empty[Long], "O"),
          (-1L, Option(-999L), "X"),
          (-1L, Option(-999L), "X"))
          .toDF("o_orderkey", "o_custkey", "o_orderstatus"))
      def report(rule: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(rule).as("rule"), col("n_violations"))
      report("unique_o_orderkey",
          o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
            .filter(col("c") > 1))
        .unionByName(report("not_null_o_custkey", o.filter(col("o_custkey").isNull)))
        .unionByName(report("accepted_values_o_orderstatus",
          o.filter(!col("o_orderstatus").isin("O", "F", "P"))))
        .unionByName(report("relationship_orders_customer",
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
        .orderBy(col("rule").asc_nulls_last)
    }, Some(
      """WITH dirty AS (
           SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
           UNION ALL
           SELECT * FROM (VALUES (CAST(-2 AS BIGINT), CAST(NULL AS BIGINT), 'O'),
                                 (-1, -999, 'X'), (-1, -999, 'X'))
             AS v(o_orderkey, o_custkey, o_orderstatus))
         SELECT rule, n_violations FROM (
           SELECT 'unique_o_orderkey' AS rule,
                  (SELECT count(*) FROM (SELECT o_orderkey FROM dirty
                    GROUP BY o_orderkey HAVING count(*) > 1)) AS n_violations
           UNION ALL
           SELECT 'not_null_o_custkey',
                  (SELECT count(*) FROM dirty WHERE o_custkey IS NULL)
           UNION ALL
           SELECT 'accepted_values_o_orderstatus',
                  (SELECT count(*) FROM dirty
                   WHERE NOT (o_orderstatus IN ('O','F','P')))
           UNION ALL
           SELECT 'relationship_orders_customer',
                  (SELECT count(*) FROM dirty o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)))
         ORDER BY rule ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D2
    // dbt `source freshness`: per source partition, the newest loaded
    // record's age against a pinned as-of instant, classified by
    // warn_after / error_after thresholds — the staleness gate a dbt
    // project runs before building. One partial+final max() agg over the
    // source, driver never sees data. (Thresholds sit between the
    // per-type maxima at sf0.01 so every status value is exercised;
    // max(trunc) ≡ trunc(max) since date_trunc is monotone.)
    QueryDef("d2_source_freshness", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(date_trunc("second", max(col("ts"))).as("max_loaded_at"))
        .withColumn("age_sec", expr(
          """CAST(unix_timestamp(TIMESTAMP '2024-02-01 00:00:00')
                  - unix_timestamp(max_loaded_at) AS BIGINT)"""))
        .withColumn("status",
          when(col("age_sec") > 88400L, "error")
            .when(col("age_sec") > 87000L, "warn")
            .otherwise("pass"))
        .orderBy(col("event_type").asc_nulls_last)
    }, Some(
      """SELECT event_type,
                date_trunc('second', max(CAST(ts AS TIMESTAMP))) AS max_loaded_at,
                CAST(epoch(TIMESTAMP '2024-02-01 00:00:00')
                     - epoch(date_trunc('second', max(CAST(ts AS TIMESTAMP)))) AS BIGINT)
                  AS age_sec,
                CASE WHEN epoch(TIMESTAMP '2024-02-01 00:00:00')
                          - epoch(date_trunc('second', max(CAST(ts AS TIMESTAMP)))) > 88400
                       THEN 'error'
                     WHEN epoch(TIMESTAMP '2024-02-01 00:00:00')
                          - epoch(date_trunc('second', max(CAST(ts AS TIMESTAMP)))) > 87000
                       THEN 'warn'
                     ELSE 'pass' END AS status
         FROM events GROUP BY event_type
         ORDER BY event_type ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D4
    // Volume anomaly detection (dbt-expectations' expect_table_row_count /
    // elementary-style volume monitor): daily event counts vs the
    // TRAILING 7-day average — a day at < 50% or > 200% of its own
    // trailing baseline is flagged. One keyed daily aggregate (map-side
    // combined) then one window pass over the tiny day series; at scale
    // the day series stays tiny no matter the fact volume, so the monitor
    // costs one aggregate over the partition-pruned day.
    QueryDef("d4_volume_anomaly", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("day").asc).rowsBetween(-7, -1)
      daily
        .withColumn("trail_avg", avg(col("n")).over(w))
        .withColumn("trail_n", count(col("n")).over(w))
        // warm-up days (< 7 prior days) are not judged
        .filter(col("trail_n") === 7)
        .select(col("day"), col("n"),
          (round(col("trail_avg")*100)/100).as("trail_avg"),
          (round((col("n") / col("trail_avg"))*10000)/10000).as("ratio"),
          (col("n") < col("trail_avg") * 0.5 ||
            col("n") > col("trail_avg") * 2.0).as("anomaly"))
        .orderBy(col("day").asc_nulls_last)
    }, Some(
      """WITH daily AS (
           SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
           FROM events GROUP BY 1),
         t AS (
           SELECT day, n,
                  avg(n) OVER w AS trail_avg,
                  count(n) OVER w AS trail_n
           FROM daily
           WINDOW w AS (ORDER BY day ASC ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT day, n,
                (round((trail_avg)*100)/100) AS trail_avg,
                (round((n / trail_avg)*10000)/10000) AS ratio,
                (n < trail_avg * 0.5 OR n > trail_avg * 2.0) AS anomaly
         FROM t WHERE trail_n = 7
         ORDER BY day ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D5
    // Relation diff (dbt audit_helper compare_relations / Datafold
    // data-diff): classify every key of two relation versions as
    // added / removed / changed / identical, with per-class row counts
    // and a changed-column census. ONE full outer key join — at 100 TB
    // co-partitioned on the key (or broadcast if one side is a slim
    // changeset), never a row-by-row driver compare. The two versions
    // are planted deterministically from orders: %3-slice as baseline,
    // %5-slice with a price bump on 'F' rows as the candidate.
    QueryDef("d5_data_diff", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val a = o.filter(col("o_orderkey") % 3 =!= 0)
      val b = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "F", col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
      val joined = a.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("a_status"), col("o_totalprice").as("a_price"))
        .join(b.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("b_status"), col("o_totalprice").as("b_price")),
          Seq("k"), "full_outer")
      joined.select(
          when(col("a_status").isNull, "added")
            .when(col("b_status").isNull, "removed")
            .when(col("a_status") === col("b_status") &&
              col("a_price") === col("b_price"), "identical")
            .otherwise("changed").as("class"),
          when(col("a_price") =!= col("b_price"), 1L).otherwise(0L)
            .as("price_changed"),
          when(col("a_status") =!= col("b_status"), 1L).otherwise(0L)
            .as("status_changed"))
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_changed")).as("n_price_changed"),
          sum(col("status_changed")).as("n_status_changed"))
        .orderBy(col("class").asc_nulls_last)
    }, Some(
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         a AS (SELECT o_orderkey AS k, o_orderstatus AS a_status,
                      o_totalprice AS a_price
               FROM o WHERE o_orderkey % 3 <> 0),
         b AS (SELECT o_orderkey AS k, o_orderstatus AS b_status,
                      CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0
                           ELSE o_totalprice END AS b_price
               FROM o WHERE o_orderkey % 5 <> 0),
         j AS (SELECT coalesce(a.k, b.k) AS k, a_status, a_price,
                      b_status, b_price
               FROM a FULL OUTER JOIN b ON a.k = b.k),
         c AS (SELECT
                 CASE WHEN a_status IS NULL THEN 'added'
                      WHEN b_status IS NULL THEN 'removed'
                      WHEN a_status = b_status AND a_price = b_price
                        THEN 'identical'
                      ELSE 'changed' END AS class,
                 CASE WHEN a_price <> b_price THEN 1 ELSE 0 END
                   AS price_changed,
                 CASE WHEN a_status <> b_status THEN 1 ELSE 0 END
                   AS status_changed
               FROM j)
         SELECT class, count(*) AS n,
                CAST(sum(price_changed) AS BIGINT) AS n_price_changed,
                CAST(sum(status_changed) AS BIGINT) AS n_status_changed
         FROM c GROUP BY class ORDER BY class ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D6
    // dbt `relationships` test across the whole DAG: every FK edge of the
    // star schema audited in one report (child rows, orphan rows). Two
    // parents are deterministically thinned (customer %97, part %101
    // slices removed) so the orphan counter provably fires; the clean
    // edges certify zero. Each edge is one left-outer join against the
    // parent's DISTINCT key followed by a conditional count — for small
    // parents (nation/region/customer/part/supplier) the join broadcasts,
    // so the fact-side edges (lineitem×3) are map-only passes; nothing in
    // the report shuffles the child beyond the agg's 1-row partials.
    QueryDef("d6_relationships", (s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck))
          .join(broadcast(parent.select(col(pk)).distinct()),
            col(ck) === col(pk), "left_outer")
          .agg(count(lit(1)).as("n_child"),
            count(when(col(pk).isNull, lit(1))).as("n_orphans"))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") % 97 =!= 0)
      val part = t(s, dir, "part").filter(col("p_partkey") % 101 =!= 0)
      val li = t(s, dir, "lineitem")
      edge("customer_nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey")
        .unionByName(edge("lineitem_orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"))
        .unionByName(edge("lineitem_part", li, "l_partkey", part, "p_partkey"))
        .unionByName(edge("lineitem_supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(edge("nation_region", t(s, dir, "nation"), "n_regionkey",
          t(s, dir, "region"), "r_regionkey"))
        .unionByName(edge("orders_customer", t(s, dir, "orders"), "o_custkey",
          cust, "c_custkey"))
        .unionByName(edge("supplier_nation", t(s, dir, "supplier"),
          "s_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .orderBy(col("edge").asc_nulls_last)
    }, Some(
      """WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
         prt AS (SELECT p_partkey FROM part WHERE p_partkey % 101 <> 0),
         checks AS (
           SELECT 'customer_nation' AS edge, count(*) AS n_child,
                  count(CASE WHEN n_nationkey IS NULL THEN 1 END) AS n_orphans
           FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p
             ON c_nationkey = n_nationkey
           UNION ALL
           SELECT 'lineitem_orders', count(*),
                  count(CASE WHEN o_orderkey IS NULL THEN 1 END)
           FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p
             ON l_orderkey = o_orderkey
           UNION ALL
           SELECT 'lineitem_part', count(*),
                  count(CASE WHEN p_partkey IS NULL THEN 1 END)
           FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM prt) p
             ON l_partkey = p_partkey
           UNION ALL
           SELECT 'lineitem_supplier', count(*),
                  count(CASE WHEN s_suppkey IS NULL THEN 1 END)
           FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) p
             ON l_suppkey = s_suppkey
           UNION ALL
           SELECT 'nation_region', count(*),
                  count(CASE WHEN r_regionkey IS NULL THEN 1 END)
           FROM nation LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) p
             ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'orders_customer', count(*),
                  count(CASE WHEN c_custkey IS NULL THEN 1 END)
           FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM cust) p
             ON o_custkey = c_custkey
           UNION ALL
           SELECT 'supplier_nation', count(*),
                  count(CASE WHEN n_nationkey IS NULL THEN 1 END)
           FROM supplier LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p
             ON s_nationkey = n_nationkey)
         SELECT edge, n_child, n_orphans
         FROM checks ORDER BY edge ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S33
    // Incrementally-maintained JOIN materialized view (the enrichment
    // mart): facts ⋈ customer-dim kept fresh by delta propagation —
    // ΔJ = ΔA⋈B_new ∪ A_applied⋈ΔB — never a full join recompute. The
    // lifecycle exercises BOTH legs: an orders append (new facts join
    // the current dim) and a customer append (a LATE-ARRIVING DIM — old
    // facts for the newly-landed customers join via time travel to A's
    // applied snapshot). Both sources' applied versions ride each
    // refresh commit as txn actions (appendTxns), so a replayed refresh
    // is a no-op and a half-applied version pair cannot exist. The
    // full-recompute oracle certifies the incremental result exactly.
    QueryDef("s33_join_mv", (s, dir) => {
      import graft.operators.IncrementalMv
      val srcA = tmp("s33_facts")
      val srcB = tmp("s33_dim")
      val mv = tmp("s33_mv") + "/mv"
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0) // slim write volume: the mechanism, not the bytes, is under test
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val colsA = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val colsB = Seq("c_custkey", "c_mktsegment")
      val ow = Map("graft.optimizeWrite" -> "true")
      DeltaLite.create(s, srcA,
        o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(colsA.map(col): _*), properties = ow)
      DeltaLite.create(s, srcB, c.filter(col("c_custkey") % 5 =!= 0),
        properties = ow)
      IncrementalMv.refreshJoinAppendOnly(s, srcA, srcB, mv,
        "o_custkey", "c_custkey", colsA, colsB, properties = ow)
      // leg 1: new facts arrive
      DeltaLite.append(s, srcA,
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .select(colsA.map(col): _*))
      IncrementalMv.refreshJoinAppendOnly(s, srcA, srcB, mv,
        "o_custkey", "c_custkey", colsA, colsB)
      // leg 2: late-arriving dim rows — THEIR old facts must appear
      DeltaLite.append(s, srcB, c.filter(col("c_custkey") % 5 === 0))
      IncrementalMv.refreshJoinAppendOnly(s, srcA, srcB, mv,
        "o_custkey", "c_custkey", colsA, colsB)
      DeltaLite.read(s, mv)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          expr("round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*100)/100")
            .as("total"))
        .orderBy(col("c_mktsegment").asc_nulls_last)
    }, Some(
      """SELECT c_mktsegment, count(*) AS n,
                (round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)*100)/100) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 3 = 0
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S34
    // Type widening (Delta `delta.enableTypeWidening` / `ALTER COLUMN ...
    // TYPE <wider>`): the INT quantity column widens to BIGINT as a
    // METADATA-ONLY commit — zero files rewritten at any table size — and
    // the narrow-era files up-promote at scan time through the parquet
    // reader's widening path while the post-widen append lands values
    // ABOVE Int.MaxValue natively (the overflow headroom that motivates
    // the migration). The oracle replays both eras' arithmetic straight
    // off the fixture, certifying narrow-era values survive bit-exactly
    // next to wide-era ones. ScaleSpec carries the file-identity,
    // time-travel, stats-pruning and refusal contracts.
    QueryDef("s34_type_widening", (s, dir) => {
      val path = tmp("s34_delta")
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_shipdate"),
          expr("CAST(round((l_quantity)*100) AS INT)").as("qty_c"))
      val cut = lit("1997-01-01").cast("timestamp")
      DeltaLite.create(s, path,
        li.filter(col("l_shipdate") < cut).drop("l_shipdate"))
      DeltaLite.widenColumnType(path, "qty_c",
        org.apache.spark.sql.types.LongType)
      // wide-era batch: values deliberately beyond Int.MaxValue
      DeltaLite.append(s, path,
        li.filter(col("l_shipdate") >= cut).drop("l_shipdate")
          .withColumn("qty_c", col("qty_c") + lit(3000000000L)))
      DeltaLite.read(s, path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty_c")).as("sum_qty_c"),
          max(col("qty_c")).as("max_qty_c"))
        .orderBy(col("l_returnflag").asc_nulls_last)
    }, Some(
      """WITH li AS (
           SELECT l_returnflag,
                  CASE WHEN l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                       THEN CAST(CAST(round((l_quantity)*100) AS INTEGER)
                                 AS BIGINT)
                       ELSE CAST(round((l_quantity)*100) AS BIGINT)
                            + 3000000000 END AS qty_c
           FROM lineitem WHERE l_orderkey % 3 = 0)
         SELECT l_returnflag, count(*) AS n,
                CAST(sum(qty_c) AS BIGINT) AS sum_qty_c,
                max(qty_c) AS max_qty_c
         FROM li GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S35
    // Liquid-style incremental clustering (`graft.clusterBy` + OPTIMIZE):
    // the first OPTIMIZE Morton-orders the initial load; the second pass
    // after an append rewrites ONLY the appended files — layout
    // maintenance tracks the new data (O(batch)), never the table, which
    // is the liquid contract vs classic full-rewrite ZORDER. The oracle
    // certifies the invariant that matters: clustering passes are pure
    // LAYOUT ops — logical content after create+optimize+append+optimize
    // is exactly the fixture replay. ScaleSpec pins the file-identity and
    // pruning mechanics.
    QueryDef("s35_liquid_cluster", (s, dir) => {
      val path = tmp("s35_delta")
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_shipdate"))
      val cut = lit("1997-01-01").cast("timestamp")
      DeltaLite.create(s, path,
        li.filter(col("l_shipdate") < cut).repartition(4),
        properties = Map("graft.clusterBy" -> "l_orderkey,l_partkey"))
      s.sql(s"OPTIMIZE '$path'")       // clusters the initial 4 files
      DeltaLite.append(s, path,
        li.filter(col("l_shipdate") >= cut).repartition(3))
      s.sql(s"OPTIMIZE '$path'")       // clusters ONLY the 3 new files
      DeltaLite.read(s, path)
        .groupBy(expr("l_orderkey % 10").as("bucket"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(l_quantity))*100)/100").as("sum_qty"))
        .orderBy(col("bucket").asc_nulls_last)
    }, Some(
      """SELECT l_orderkey % 10 AS bucket, count(*) AS n,
                (round((sum(l_quantity))*100)/100) AS sum_qty
         FROM lineitem WHERE l_orderkey % 3 = 0
         GROUP BY 1 ORDER BY bucket ASC NULLS LAST""")),

    // ------------------------------------------------------------------ D7
    // Distribution drift monitor (Population Stability Index) — the data-
    // quality staple for ML feature pipelines that D3/D4/D5 don't cover:
    // bucket a metric (a16's equi-width identity), compare the reference
    // window's bucket shares against the current window's, and score
    // Σ (p−q)·ln(p/q) with Laplace smoothing so an empty bucket can't
    // divide by zero. PSI > 0.2 is the conventional retrain alarm. ONE
    // corpus scan: both windows' counts come from conditional aggregates
    // under the same bucket-keyed shuffle (bounded at bucket count by
    // map-side partials); the float math is a fixed expression tree over
    // exact BIGINT counts — same text both engines. At 100 TB this is a
    // map-only classify + K-row aggregate; the totals ride a broadcast
    // 1-row frame, never a driver action.
    // ------------------------------------------------------------------ D19
    // K-ANONYMITY census over quasi-identifiers — the re-identification
    // risk screen a training-data pipeline runs before releasing or
    // mixing user-derived data (Sweeney 2002): group rows by the
    // quasi-identifier tuple (nation, market segment, account-balance
    // band), then report the distribution of group sizes k — every row
    // in a group of size k is indistinguishable from k-1 others, so the
    // k<5 mass is the disclosure-risk budget. All-integer: the balance
    // band is exact cents SHIFTED non-negative before the floor-div
    // (Spark `div` truncates toward zero, DuckDB `//` floors — they
    // disagree on negative quotients, the g7 lesson), shares are ppm
    // floor-divs of exact counts. Scale: ONE QI-keyed aggregate
    // collapses the corpus; the k-histogram and window total are
    // O(distinct group sizes) — at 100 TB this is a single shuffle plus
    // arithmetic over a tiny frame.
    QueryDef("d19_k_anonymity", (s, dir) => {
      val qi = t(s, dir, "customer").select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("""(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)
                div 100000""").as("bal_band"))
      val groups = qi
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("k"))
      groups.groupBy(col("k"))
        .agg(count(lit(1)).as("n_groups"))
        .withColumn("n_rows", col("k") * col("n_groups"))
        .withColumn("total", sum(col("n_rows")).over(Window.partitionBy()))
        .select(col("k"), col("n_groups"), col("n_rows"),
          expr("(n_rows * 1000000L) div total").as("share_ppm"),
          (col("k") < 5).as("at_risk"))
        .orderBy(col("k").asc_nulls_last)
    }, Some(
      """WITH qi AS (
           SELECT c_nationkey, c_mktsegment,
                  (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)
                    // 100000 AS bal_band
           FROM customer),
         groups AS (
           SELECT c_nationkey, c_mktsegment, bal_band,
                  CAST(count(*) AS BIGINT) AS k
           FROM qi GROUP BY 1, 2, 3),
         hist AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(k * count(*) AS BIGINT) AS n_rows
           FROM groups GROUP BY k)
         SELECT k, n_groups, n_rows,
                CAST((n_rows * 1000000) // (sum(n_rows) OVER ())
                  AS BIGINT) AS share_ppm,
                k < 5 AS at_risk
         FROM hist
         ORDER BY k ASC NULLS LAST""")),

    // ----------------------------------------------------------------- D20
    // FUNCTION MODELS (round 17) — dbt-duckdb's documented PYTHON MODEL
    // surface, engine-idiomatic: a model authored as imperative
    // DataFrame CODE (`def model(dbt, session)` ≙ the build function
    // with the ref() resolver), declared `language = "scala"`,
    // materialized as a table (dbt's Python-model requirement), and
    // riding the WHOLE existing project surface unchanged — contracts,
    // fingerprints, state:modified+ reuse, manifest (which records
    // `language` per node, like dbt's). The demo model does the
    // classically imperative thing SQL text is awkward at: a
    // threshold-list fold building the ABC (Pareto) classification —
    // cumulative spend share cross-multiplied in BIGINT (A ≤ 80%,
    // B ≤ 95%; no division decides). Scale: the global cumulative
    // window runs over the CUSTOMER dimension (corpus already
    // collapsed by one keyed aggregate); a fact-sized ranking would
    // ride operators/DistributedRank instead.
    QueryDef("d20_function_model", (s, dir) => {
      val target = tmp("d20_models")
      val silver = Pipeline.Model("silver_spend", Nil,
        (s2, _) => t(s2, dir, "orders").groupBy(col("o_custkey"))
          .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))" +
            " AS BIGINT)").as("cents")),
        code = "select o_custkey, sum(price_cents) as cents " +
          "from orders group by 1")
      val gold = Pipeline.Model("gold_abc", Seq("silver_spend"),
        (s2, ref) => {
          val spend = ref("silver_spend")
          val w = Window.orderBy(col("cents").desc, col("o_custkey").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val tot = spend.agg(sum(col("cents")).as("total"))
          val cum = spend
            .withColumn("cum_cents", sum(col("cents")).over(w))
            .crossJoin(broadcast(tot))
          // the imperative bit a function model exists for: fold a
          // config-driven threshold list into one classification column
          val classes = Seq(("A", 4L, 5L), ("B", 19L, 20L))
          val abc = classes.foldRight(lit("C")) {
            case ((nm, num, den), els) =>
              when(col("cum_cents") * den <= col("total") * num, nm)
                .otherwise(els)
          }
          cum.withColumn("abc", abc)
        },
        code = "def model(ref): cumulative-share ABC classes over " +
          "silver_spend, thresholds [(A,80%),(B,95%)] v1",
        language = "scala")
      val models = Seq(silver, gold)
      Pipeline.run(s, models, target, selective = true)
      // second invocation: both fingerprints match → pure reuse (the
      // state:modified+ surface applies to function models unchanged;
      // MedallionSpec pins the statuses and the manifest's language)
      Pipeline.run(s, models, target, selective = true)
      graft.sources.DeltaLite.read(s, s"$target/gold_abc")
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("class_cents"))
        .orderBy(col("abc").asc_nulls_last)
    }, Some(
      """WITH spend AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         cum AS (
           SELECT o_custkey, cents,
                  sum(cents) OVER (ORDER BY cents DESC, o_custkey ASC
                    ROWS UNBOUNDED PRECEDING) AS cum_cents,
                  sum(cents) OVER () AS total
           FROM spend)
         SELECT CASE WHEN cum_cents * 5 <= total * 4 THEN 'A'
                     WHEN cum_cents * 20 <= total * 19 THEN 'B'
                     ELSE 'C' END AS abc,
                count(*) AS n_customers,
                CAST(sum(cents) AS BIGINT) AS class_cents
         FROM cum GROUP BY 1
         ORDER BY abc ASC NULLS LAST""")),

    // ----------------------------------------------------------------- D10
    // CHI-SQUARE INDEPENDENCE test (event_type × weekday) — the
    // categorical-association check next to d7's PSI (numeric drift):
    // is activity mix independent of day-of-week? Observed counts are
    // ONE (type, weekday)-keyed aggregate; marginals/total are window
    // sums over the bounded 35-cell contingency table (never the
    // corpus); expected and per-cell contributions are a fixed IEEE
    // tree over identical BIGINT counts, whole-table χ² summed over 35
    // cells and 6dp-rounded (the d7 float discipline). At 100 TB the
    // corpus collapses to the cell table in one shuffle; everything
    // after is O(cells).
    QueryDef("d10_chi_square", (s, dir) => {
      val cells = Pipeline.silverEvents(s, dir)
        .groupBy(col("event_type"),
          dayofweek(col("ts_sec").cast("date")).as("dow"))
        .agg(count(lit(1)).as("o"))
      val wAll = Window.partitionBy()
      val wRow = Window.partitionBy(col("event_type"))
      val wCol = Window.partitionBy(col("dow"))
      cells
        .withColumn("r", sum(col("o")).over(wRow))
        .withColumn("c", sum(col("o")).over(wCol))
        .withColumn("t", sum(col("o")).over(wAll))
        .withColumn("e", expr(
          "CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE)"))
        .withColumn("contrib", expr(
          "round(((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) * 1000000) / 1000000"))
        .withColumn("chi2",
          expr("round((sum(contrib) OVER ()) * 1000000) / 1000000"))
        .select(col("event_type"), col("dow"), col("o"),
          expr("round(e * 1000000) / 1000000").as("expected"),
          col("contrib"), col("chi2"))
        .orderBy(col("event_type").asc_nulls_last, col("dow").asc_nulls_last)
    }, Some(
      """WITH e AS (
           SELECT event_type,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP))
                    AS TIMESTAMP) AS ts_sec
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL),
         cells AS (
           SELECT event_type,
                  CAST(dayofweek(CAST(ts_sec AS DATE)) + 1 AS INTEGER)
                    AS dow,
                  CAST(count(*) AS BIGINT) AS o
           FROM e GROUP BY 1, 2),
         m AS (
           SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) AS r,
                  sum(o) OVER (PARTITION BY dow) AS c,
                  sum(o) OVER () AS t
           FROM cells),
         x AS (
           SELECT event_type, dow, o,
                  CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE)
                    AS e,
                  round(((CAST(o AS DOUBLE)
                    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                    * (CAST(o AS DOUBLE)
                    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                       / CAST(t AS DOUBLE))) * 1000000) / 1000000 AS contrib
           FROM m)
         SELECT event_type, dow, o,
                round(e * 1000000) / 1000000 AS expected, contrib,
                round((sum(contrib) OVER ()) * 1000000) / 1000000 AS chi2
         FROM x
         ORDER BY event_type ASC NULLS LAST, dow ASC NULLS LAST""")),

    QueryDef.sql("d7_drift_psi",
      """WITH b AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
         CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_cur
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1),
t AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
         CAST(sum(n_cur) AS BIGINT) AS tot_cur,
         CAST(count(*) AS BIGINT) AS nb
  FROM b),
c AS (
  SELECT bucket, n_ref, n_cur,
         (CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + nb AS DOUBLE)) AS p,
         (CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + nb AS DOUBLE)) AS q
  FROM b CROSS JOIN t)
SELECT bucket, n_ref, n_cur,
       (round(((p - q) * ln(p / q))*1000000)/1000000) AS contrib,
       (round((sum((p - q) * ln(p / q)) OVER ())*1000000)/1000000) AS psi
FROM c
ORDER BY bucket ASC NULLS LAST""",
      oracle =
        """WITH b AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
         CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_cur
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1),
t AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
         CAST(sum(n_cur) AS BIGINT) AS tot_cur,
         CAST(count(*) AS BIGINT) AS nb
  FROM b),
c AS (
  SELECT bucket, n_ref, n_cur,
         (CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + nb AS DOUBLE)) AS p,
         (CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + nb AS DOUBLE)) AS q
  FROM b CROSS JOIN t)
SELECT bucket, n_ref, n_cur,
       (round(((p - q) * ln(p / q))*1000000)/1000000) AS contrib,
       (round((sum((p - q) * ln(p / q)) OVER ())*1000000)/1000000) AS psi
FROM c
ORDER BY bucket ASC NULLS LAST"""),

    // ------------------------------------------------------------------- D8
    // dbt model CONTRACT validation as data (`contract: {enforced: true}`
    // plus column `constraints`): the census of raw rows that would break
    // each declared rule of a contracted silver model — not-null keys,
    // type castability (TRY_CAST), accepted values, and a business range
    // check. The staged frame re-types bronze as strings (raw-ingest
    // reality) and plants one violation per rule so every gate provably
    // fires. One pass over the source, each rule a conditional count in
    // a single aggregate — at 100 TB this is the same one-scan shape as
    // d1; no per-rule rescans. Pipeline.Contract (the build-time gate)
    // is the enforcement twin of this report — see MedallionSpec.
    QueryDef("d8_contract_enforce", (s, dir) => {
      import s.implicits._
      val staged = t(s, dir, "events")
        .select(col("event_id").cast("string").as("id_s"),
          date_trunc("second", col("ts")).cast("string").as("ts_s"),
          col("event_type"),
          expr("CAST(CAST(round(value * 100) AS BIGINT) AS STRING)")
            .as("val_s"))
        .unionByName(Seq(
          (Option.empty[String], Option("2024-01-01 00:00:00"), "click", "100"),
          (Option("x9"), Option("2024-01-01 00:00:00"), "click", "100"),
          (Option("9000001"), Option("not-a-ts"), "view", "200"),
          (Option("9000002"), Option("2024-01-02 00:00:00"), "oops", "abc"),
          (Option("9000003"), Option("2024-01-03 00:00:00"), "purchase", "-500"))
          .toDF("id_s", "ts_s", "event_type", "val_s"))
      staged.agg(
          sum(when(col("id_s").isNull, 1L).otherwise(0L))
            .as("not_null_event_id"),
          sum(when(col("id_s").isNotNull &&
              expr("TRY_CAST(id_s AS BIGINT)").isNull, 1L).otherwise(0L))
            .as("cast_event_id_bigint"),
          sum(when(expr("TRY_CAST(ts_s AS TIMESTAMP)").isNull, 1L)
            .otherwise(0L)).as("cast_ts_timestamp"),
          sum(when(expr("TRY_CAST(val_s AS BIGINT)").isNull, 1L)
            .otherwise(0L)).as("cast_value_bigint"),
          sum(when(!col("event_type").isin(
              "click", "error", "purchase", "signup", "view"), 1L)
            .otherwise(0L)).as("accepted_values_event_type"),
          sum(when(expr("TRY_CAST(val_s AS BIGINT)") < 0L, 1L)
            .otherwise(0L)).as("value_non_negative"))
        .selectExpr("stack(6, " +
          "'not_null_event_id', not_null_event_id, " +
          "'cast_event_id_bigint', cast_event_id_bigint, " +
          "'cast_ts_timestamp', cast_ts_timestamp, " +
          "'cast_value_bigint', cast_value_bigint, " +
          "'accepted_values_event_type', accepted_values_event_type, " +
          "'value_non_negative', value_non_negative) " +
          "AS (rule, n_violations)")
        .withColumn("status",
          when(col("n_violations") === 0L, "pass").otherwise("fail"))
        .orderBy(col("rule").asc_nulls_last)
    }, Some(
      """WITH staged AS (
           SELECT CAST(event_id AS VARCHAR) AS id_s,
                  CAST(date_trunc('second', CAST(ts AS TIMESTAMP))
                    AS VARCHAR) AS ts_s,
                  event_type,
                  CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS val_s
           FROM events
           UNION ALL
           SELECT * FROM (VALUES
             (CAST(NULL AS VARCHAR), '2024-01-01 00:00:00', 'click', '100'),
             ('x9', '2024-01-01 00:00:00', 'click', '100'),
             ('9000001', 'not-a-ts', 'view', '200'),
             ('9000002', '2024-01-02 00:00:00', 'oops', 'abc'),
             ('9000003', '2024-01-03 00:00:00', 'purchase', '-500'))
             AS v(id_s, ts_s, event_type, val_s)),
         agg AS (
           SELECT
             CAST(sum(CASE WHEN id_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS not_null_event_id,
             CAST(sum(CASE WHEN id_s IS NOT NULL
                  AND TRY_CAST(id_s AS BIGINT) IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS cast_event_id_bigint,
             CAST(sum(CASE WHEN TRY_CAST(ts_s AS TIMESTAMP) IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS cast_ts_timestamp,
             CAST(sum(CASE WHEN TRY_CAST(val_s AS BIGINT) IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS cast_value_bigint,
             CAST(sum(CASE WHEN event_type NOT IN
                  ('click','error','purchase','signup','view')
                  THEN 1 ELSE 0 END) AS BIGINT)
               AS accepted_values_event_type,
             CAST(sum(CASE WHEN TRY_CAST(val_s AS BIGINT) < 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS value_non_negative
           FROM staged),
         rules AS (
           SELECT 'not_null_event_id' AS rule,
                  not_null_event_id AS n_violations FROM agg
           UNION ALL SELECT 'cast_event_id_bigint', cast_event_id_bigint
           FROM agg
           UNION ALL SELECT 'cast_ts_timestamp', cast_ts_timestamp FROM agg
           UNION ALL SELECT 'cast_value_bigint', cast_value_bigint FROM agg
           UNION ALL SELECT 'accepted_values_event_type',
                  accepted_values_event_type FROM agg
           UNION ALL SELECT 'value_non_negative', value_non_negative
           FROM agg)
         SELECT rule, n_violations,
                CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END
                  AS status
         FROM rules ORDER BY rule ASC NULLS LAST""")),

    // ------------------------------------------------------------------- D9
    // dbt UNIT TESTS (dbt 1.8 `unit_tests:` blocks): run a model's logic
    // against MOCKED inputs (`given:` fixture rows) and diff the result
    // against `expect:` rows — logic verified in isolation from real
    // data, the missing layer between schema tests (d1) and full-run
    // validation. Two cases: the gold daily-events aggregation (grouping
    // + rounding + null-sum semantics: sum over only-NULL values is
    // NULL, coalesced like dbt fixtures would) and the silver dedup
    // (row_number keep-first over a composite order). The diff is the
    // dbt comparator: symmetric EXCEPT counts; a test passes iff both
    // directions are empty. Everything is literal-driven, so the engines
    // must agree through the COMPUTE, not the data — a pure parity probe
    // of the SQL surface the models use. Scale: unit tests run on
    // fixture literals; cost is independent of warehouse size.
    QueryDef.sql("d9_unit_test",
      """WITH mock_silver(ts_sec, event_type, value) AS (VALUES
           (TIMESTAMP '2024-01-01 10:00:00', 'click', CAST(1.25 AS DOUBLE)),
           (TIMESTAMP '2024-01-01 11:30:00', 'click', CAST(2.25 AS DOUBLE)),
           (TIMESTAMP '2024-01-01 23:59:59', 'view', CAST(NULL AS DOUBLE)),
           (TIMESTAMP '2024-01-02 00:00:00', 'click', CAST(0.004 AS DOUBLE))),
         gold_actual AS (
           SELECT CAST(ts_sec AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  round(coalesce(sum(value), CAST(0 AS DOUBLE)) * 100) / 100
                    AS sum_value
           FROM mock_silver GROUP BY 1, 2),
         gold_expect(day, event_type, n, sum_value) AS (VALUES
           (DATE '2024-01-01', 'click', CAST(2 AS BIGINT),
            CAST(3.5 AS DOUBLE)),
           (DATE '2024-01-01', 'view', CAST(1 AS BIGINT),
            CAST(0.0 AS DOUBLE)),
           (DATE '2024-01-02', 'click', CAST(1 AS BIGINT),
            CAST(0.0 AS DOUBLE))),
         mock_bronze(event_id, ts_sec, value) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
            CAST(5.0 AS DOUBLE)),
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 09:00:00',
            CAST(4.0 AS DOUBLE)),
           (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
            CAST(7.0 AS DOUBLE))),
         silver_actual AS (
           SELECT event_id, ts_sec, value FROM (
             SELECT event_id, ts_sec, value,
                    row_number() OVER (PARTITION BY event_id
                      ORDER BY ts_sec ASC, value ASC) AS rn
             FROM mock_bronze) r WHERE rn = 1),
         silver_expect(event_id, ts_sec, value) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 09:00:00',
            CAST(4.0 AS DOUBLE)),
           (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
            CAST(7.0 AS DOUBLE))),
         report AS (
           SELECT 'gold_daily_events_agg' AS test_name,
             (SELECT CAST(count(*) AS BIGINT) FROM gold_actual) AS n_actual,
             (SELECT CAST(count(*) AS BIGINT) FROM gold_expect) AS n_expected,
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM gold_actual EXCEPT SELECT * FROM gold_expect))
               AS n_unexpected,
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM gold_expect EXCEPT SELECT * FROM gold_actual))
               AS n_missing
           UNION ALL
           SELECT 'silver_dedup_keep_first',
             (SELECT CAST(count(*) AS BIGINT) FROM silver_actual),
             (SELECT CAST(count(*) AS BIGINT) FROM silver_expect),
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM silver_actual
                EXCEPT SELECT * FROM silver_expect)),
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM silver_expect
                EXCEPT SELECT * FROM silver_actual)))
         SELECT test_name, n_actual, n_expected, n_unexpected, n_missing,
                CASE WHEN n_unexpected = 0 AND n_missing = 0
                     THEN 'pass' ELSE 'fail' END AS status
         FROM report ORDER BY test_name ASC NULLS LAST""",
      oracle =
      """WITH mock_silver(ts_sec, event_type, value) AS (VALUES
           (TIMESTAMP '2024-01-01 10:00:00', 'click', CAST(1.25 AS DOUBLE)),
           (TIMESTAMP '2024-01-01 11:30:00', 'click', CAST(2.25 AS DOUBLE)),
           (TIMESTAMP '2024-01-01 23:59:59', 'view', CAST(NULL AS DOUBLE)),
           (TIMESTAMP '2024-01-02 00:00:00', 'click', CAST(0.004 AS DOUBLE))),
         gold_actual AS (
           SELECT CAST(ts_sec AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  round(coalesce(sum(value), CAST(0 AS DOUBLE)) * 100) / 100
                    AS sum_value
           FROM mock_silver GROUP BY 1, 2),
         gold_expect(day, event_type, n, sum_value) AS (VALUES
           (DATE '2024-01-01', 'click', CAST(2 AS BIGINT),
            CAST(3.5 AS DOUBLE)),
           (DATE '2024-01-01', 'view', CAST(1 AS BIGINT),
            CAST(0.0 AS DOUBLE)),
           (DATE '2024-01-02', 'click', CAST(1 AS BIGINT),
            CAST(0.0 AS DOUBLE))),
         mock_bronze(event_id, ts_sec, value) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
            CAST(5.0 AS DOUBLE)),
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 09:00:00',
            CAST(4.0 AS DOUBLE)),
           (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
            CAST(7.0 AS DOUBLE))),
         silver_actual AS (
           SELECT event_id, ts_sec, value FROM (
             SELECT event_id, ts_sec, value,
                    row_number() OVER (PARTITION BY event_id
                      ORDER BY ts_sec ASC, value ASC) AS rn
             FROM mock_bronze) r WHERE rn = 1),
         silver_expect(event_id, ts_sec, value) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 09:00:00',
            CAST(4.0 AS DOUBLE)),
           (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
            CAST(7.0 AS DOUBLE))),
         report AS (
           SELECT 'gold_daily_events_agg' AS test_name,
             (SELECT CAST(count(*) AS BIGINT) FROM gold_actual) AS n_actual,
             (SELECT CAST(count(*) AS BIGINT) FROM gold_expect) AS n_expected,
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM gold_actual EXCEPT SELECT * FROM gold_expect))
               AS n_unexpected,
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM gold_expect EXCEPT SELECT * FROM gold_actual))
               AS n_missing
           UNION ALL
           SELECT 'silver_dedup_keep_first',
             (SELECT CAST(count(*) AS BIGINT) FROM silver_actual),
             (SELECT CAST(count(*) AS BIGINT) FROM silver_expect),
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM silver_actual
                EXCEPT SELECT * FROM silver_expect)),
             (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT * FROM silver_expect
                EXCEPT SELECT * FROM silver_actual)))
         SELECT test_name, n_actual, n_expected, n_unexpected, n_missing,
                CASE WHEN n_unexpected = 0 AND n_missing = 0
                     THEN 'pass' ELSE 'fail' END AS status
         FROM report ORDER BY test_name ASC NULLS LAST"""),

    // ------------------------------------------------------------------ D12
    // dbt SEMANTIC-LAYER metric query: the `revenue_cents` metric
    // (declared measure + time dim in Pipeline.metrics, the `metrics:`
    // block of modern dbt) COMPILED to SQL at month grain and executed
    // over the gold mart. The SAME generated text runs verbatim on
    // Spark (over the mart as a view) and on DuckDB (over the mart as a
    // CTE) — the metric layer's whole point is that the spec, not
    // hand-written SQL, defines the number, so the oracle gates the
    // compiler itself. Measure units are exact cents (BIGINT), so the
    // metric is reproducible across engines and aggregation orders.
    // Scale: the metric query consumes the PRE-AGGREGATED mart (one row
    // per day) — grain rollups never touch the fact table, and the s49
    // MV-rewrite family covers the mart's own maintenance.
    QueryDef("d12_semantic_metric", (s, dir) => {
      val m = Pipeline.metrics.head
      Pipeline.goldDailyRevenue(s, dir).createOrReplaceTempView(m.model)
      s.sql(Pipeline.compileMetricSql(m, "month"))
    }, Some {
      val m = Pipeline.metrics.head
      s"""WITH gold_daily_revenue AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  (round((sum(l_extendedprice * (1 - l_discount)))*100)/100)
                    AS revenue,
                  CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1)
         ${Pipeline.compileMetricSql(m, "month")}"""
    }),

    // ------------------------------------------------------------------ D13
    // Dimensioned + re-grained metric: the `events` metric declares a
    // categorical dimension (event_type) and compiles at WEEK grain —
    // proving the spec's two degrees of freedom (dims interleave
    // between grain and measure; grain is a compile-time parameter)
    // through the same verbatim-both-engines gate as d12. date_trunc
    // 'week' is Monday-start on Spark AND DuckDB, so the rollup
    // boundary is engine-portable; counts are BIGINTs end-to-end.
    QueryDef("d13_metric_dimensioned", (s, dir) => {
      val m = Pipeline.metrics.find(_.name == "events").get
      Pipeline.goldDailyEvents(s, dir).createOrReplaceTempView(m.model)
      s.sql(Pipeline.compileMetricSql(m, "week"))
    }, Some {
      val m = Pipeline.metrics.find(_.name == "events").get
      s"""WITH gold_daily_events AS (
           SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  (round((sum(value))*100)/100) AS sum_value
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
           GROUP BY 1, 2)
         ${Pipeline.compileMetricSql(m, "week")}"""
    }),

    // ------------------------------------------------------------------ D14
    // DERIVED metric (dbt `expr: metric('a') / metric('b')`): average
    // order-item value in milli-cents = revenue_cents / items_sold at
    // month grain — compiled from the two DECLARED metric specs (the
    // compiler resolves them by name and aggregates both measures in
    // ONE pass over the mart). The ratio emits via the engine-portable
    // floor((1000·num)/den) form — exact BIGINT sums, identical IEEE
    // division on both engines — so the same generated text gates on
    // DuckDB verbatim, like d12/d13.
    QueryDef("d14_derived_metric", (s, dir) => {
      Pipeline.goldDailyRevenue(s, dir)
        .createOrReplaceTempView("gold_daily_revenue")
      s.sql(Pipeline.compileDerivedMetricSql(
        Pipeline.DerivedMetric("avg_item_milli_cents",
          "revenue_cents", "items_sold"), "month"))
    }, Some {
      s"""WITH gold_daily_revenue AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  (round((sum(l_extendedprice * (1 - l_discount)))*100)/100)
                    AS revenue,
                  CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1)
         ${Pipeline.compileDerivedMetricSql(
            Pipeline.DerivedMetric("avg_item_milli_cents",
              "revenue_cents", "items_sold"), "month")}"""
    }),

    // ------------------------------------------------------------------ D15
    // SAVED QUERY (dbt `saved_queries:` + `exports:`): two declared
    // metrics (events, event_value_cents) + their shared dimension
    // (event_type) + month grain compile into ONE single-pass SQL
    // artifact — N metrics, one scan, one keyed shuffle. The Spark side
    // ALSO exercises the export: the compiled result materializes as a
    // DeltaLite table (export_as: table) and the query reads the export
    // back — so the oracle gates the compiler AND the export round-trip
    // in one O check. The compiled text runs verbatim on both engines
    // (d12's discipline: date_trunc + ordinal GROUP BY, BIGINT
    // measures).
    QueryDef("d15_saved_query", (s, dir) => {
      val sq = Pipeline.savedQueries.head
      Pipeline.goldDailyEvents(s, dir)
        .createOrReplaceTempView("gold_daily_events")
      val path = Pipeline.exportSavedQuery(s, tmp("d15_export"), sq)
      graft.sources.DeltaLite.read(s, path)
        .orderBy(col("day_month").asc_nulls_last,
          col("event_type").asc_nulls_last)
    }, Some {
      s"""WITH gold_daily_events AS (
           SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  (round((sum(value))*100)/100) AS sum_value
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
           GROUP BY 1, 2)
         ${Pipeline.compileSavedQuerySql(Pipeline.savedQueries.head)}"""
    }),

    // ------------------------------------------------------------------ D18
    // CONVERSION metric (MetricFlow `type: conversion`): view→purchase
    // within 7 days per user, at week grain — the funnel KPI as a
    // DECLARED metric spec instead of a hand-written query (t9 is the
    // imperative twin). Candidates by user equality with the window as
    // a residual; exact integer conversions + ppm rate gate verbatim on
    // both engines.
    QueryDef("d18_conversion_metric", (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_type"),
          col("ts").cast("date").as("day"))
        .createOrReplaceTempView("stg_events")
      s.sql(Pipeline.compileConversionMetricSql(
        Pipeline.ConversionMetric("view_to_purchase", "stg_events",
          "user_id", "day", "event_type = 'view'",
          "event_type = 'purchase'", 7), "week"))
    }, Some {
      s"""WITH stg_events AS (
           SELECT user_id, event_type, CAST(ts AS DATE) AS day
           FROM events WHERE event_type IS NOT NULL)
         ${Pipeline.compileConversionMetricSql(
            Pipeline.ConversionMetric("view_to_purchase", "stg_events",
              "user_id", "day", "event_type = 'view'",
              "event_type = 'purchase'", 7), "week")}"""
    }),

    // ------------------------------------------------------------------ S53
    // FK join elimination (plans/FkJoinElimination — the RELY-constraint
    // rewrite): a star-schema census that JOINS the dimension but
    // consumes nothing from it except the join key. With the FK
    // registered (verified PK-unique + contained, version-stamped), the
    // optimizer drops the join operator entirely — the oracle runs the
    // ACTUAL join, so the O gate proves the elimination is semantically
    // invisible. At 100 TB the eliminated work is a dimension scan + a
    // fact-sized shuffle/broadcast probe. PlanSpec pins the join-free
    // plan and the decline paths (filtered dimension, extra dimension
    // column, stale version stamp).
    QueryDef("s53_fk_join_elim", (s, dir) => {
      val base = tmp("s53_fk")
      val D = graft.sources.DeltaLite
      val ordersPath = s"$base/orders"
      val custPath = s"$base/customer"
      D.create(s, custPath, t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
      D.create(s, ordersPath, t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
      graft.plans.FkJoinElimination.register(s, ordersPath, "o_custkey",
        custPath, "c_custkey")
      val o = D.read(s, ordersPath)
      val c = D.read(s, custPath)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy((c("c_custkey") % lit(10L)).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy(col("bucket").asc_nulls_last)
    }, Some(
      """SELECT c_custkey % 10 AS bucket,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1 ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S54
    // FK join elimination through Aggregate-DIRECTLY-above-Join — the
    // auto-generated BI shape (`SELECT dim.pk, aggs FROM fact JOIN dim
    // GROUP BY dim.pk`). When the aggregate references EVERY join output
    // column (here: a key-only dimension, count over the fk itself),
    // Catalyst's column pruning never interposes the Project that s53's
    // shape rides, so the rule matches Aggregate(Join) itself. The
    // grouped PK rewrites to the FK (same name + exprId); the oracle
    // runs the REAL join, proving the rewrite invisible. PlanSpec pins
    // the join-free single-scan plan and the decline path (grouping on
    // a non-key dimension attribute keeps the join).
    QueryDef("s54_fk_elim_agg", (s, dir) => {
      val base = tmp("s54_fk")
      val D = graft.sources.DeltaLite
      val ordersPath = s"$base/orders"
      val custPath = s"$base/customer"
      D.create(s, custPath, t(s, dir, "customer").select(col("c_custkey")))
      D.create(s, ordersPath, t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice")))
      graft.plans.FkJoinElimination.register(s, ordersPath, "o_custkey",
        custPath, "c_custkey")
      val o = D.read(s, ordersPath)
      val c = D.read(s, custPath)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(c("c_custkey"))
        .agg(count(o("o_custkey")).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy(col("c_custkey").asc_nulls_last)
        .limit(500)
    }, Some(
      """SELECT c_custkey,
                CAST(count(o_custkey) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1 ASC NULLS LAST LIMIT 500""")),

    // ------------------------------------------------------------------ D16
    // CUMULATIVE metric (MetricFlow `type: cumulative` + grain_to_date):
    // YTD revenue at month grain — the base metric's single-pass
    // aggregate plus one window running sum over the MONTH-cardinality
    // frame (the aggregate, never the facts — the unpartitioned window
    // is calendar-bounded at any scale; the year partition bounds it
    // further). Exact BIGINT cents under ROWS UNBOUNDED PRECEDING, so
    // the compiled text gates verbatim on both engines like d12–d15.
    QueryDef("d16_cumulative_metric", (s, dir) => {
      Pipeline.goldDailyRevenue(s, dir)
        .createOrReplaceTempView("gold_daily_revenue")
      s.sql(Pipeline.compileCumulativeMetricSql(
        Pipeline.CumulativeMetric("revenue_cents_ytd", "revenue_cents",
          grainToDate = Some("year")), "month"))
    }, Some {
      s"""WITH gold_daily_revenue AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  (round((sum(l_extendedprice * (1 - l_discount)))*100)/100)
                    AS revenue,
                  CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1)
         ${Pipeline.compileCumulativeMetricSql(
            Pipeline.CumulativeMetric("revenue_cents_ytd", "revenue_cents",
              grainToDate = Some("year")), "month")}"""
    }),

    // ------------------------------------------------------------------ D17
    // DIMENSIONED ratio metric: value-per-event in milli-cents PER
    // event_type — the d14 ratio with the dims degree of freedom
    // (inputs resolved by name must declare IDENTICAL dims; same-model
    // dim-aligned ratios stay ONE pass — both measures + the ratio from
    // a single keyed shuffle over the mart).
    QueryDef("d17_dimensioned_ratio", (s, dir) => {
      Pipeline.goldDailyEvents(s, dir)
        .createOrReplaceTempView("gold_daily_events")
      s.sql(Pipeline.compileDerivedMetricSql(
        Pipeline.DerivedMetric("value_per_event_milli",
          "event_value_cents", "events"), "month"))
    }, Some {
      s"""WITH gold_daily_events AS (
           SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  (round((sum(value))*100)/100) AS sum_value
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
           GROUP BY 1, 2)
         ${Pipeline.compileDerivedMetricSql(
            Pipeline.DerivedMetric("value_per_event_milli",
              "event_value_cents", "events"), "month")}"""
    }),

    // ------------------------------------------------------------------ S43
    // ORC interchange sink/source — the second columnar format a
    // lakehouse trades with other engines (Spark ships the ORC
    // reader/writer alongside parquet; Hive/Trino fleets are ORC-first).
    // Round-trip: project+write a silver slice as snappy ORC, read it
    // back, and aggregate under a pushed predicate — proving the scan
    // path (vectorized reader, predicate pushdown, column pruning) is
    // format-agnostic, not a parquet special case. PlanSpec asserts the
    // ORC scan carries PushedFilters exactly like the parquet twin. At
    // 100 TB format choice changes the file codec, not the plan.
    QueryDef("s43_orc_interchange", (s, dir) => {
      val path = tmp("s43_orc")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter(col("l_quantity") > 30.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(l_extendedprice))*100)/100").as("revenue"))
        .orderBy(col("l_returnflag").asc_nulls_last)
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
                (round((sum(l_extendedprice))*100)/100) AS revenue
         FROM lineitem WHERE l_quantity > 30.0
         GROUP BY 1 ORDER BY l_returnflag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S44
    // Bucketed tables + co-located join — the pre-shuffle that pays for
    // itself: both sides are written ONCE with bucketBy(8, joinkey) +
    // sortBy, so every subsequent join on that key is a SortMergeJoin
    // with ZERO exchange and ZERO sort on either input (the scan's
    // bucket layout IS the required distribution and order). At 100 TB
    // this converts the nightly fact-dim reconciliation from two
    // corpus shuffles per run to none — the bucketing cost amortizes
    // across every downstream join. The merge hint pins SMJ so the
    // invariant is about exchanges, not broadcast luck; the only
    // exchange left in the plan feeds the final priority rollup.
    // PlanSpec asserts exactly one hash exchange and no sort above
    // either scan. Table names are per-call unique (the catalog is
    // process-shared); data lives under the TempDirs root.
    QueryDef("s44_bucketed_join", (s, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
      val (ot, lt) = (s"s44_o_$u", s"s44_l_$u")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmp("s44_orders"))
        .mode("overwrite").saveAsTable(ot)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmp("s44_lineitem"))
        .mode("overwrite").saveAsTable(lt)
      val joined = s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          expr("round((sum(l_extendedprice))*100)/100").as("revenue"))
        .orderBy(col("o_orderpriority").asc_nulls_last)
      // the plan above is already resolved to the tables' file relations;
      // dropping the (EXTERNAL — data untouched) catalog entries here
      // keeps repeated harness/bench runs from leaking catalog state
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
      joined
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_lines,
                (round((sum(l_extendedprice))*100)/100) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S45
    // Avro interchange sink/source — the ROW-oriented fleet format
    // (Kafka topics, schema-registry contracts, log shippers are
    // Avro-first; Spark 4 bundles the reader/writer in spark-sql).
    // Round-trip: project+write an orders slice as Avro, read it back,
    // filter and aggregate. Unlike the ORC/parquet twins there is no
    // file-level predicate pushdown to assert — Avro blocks carry no
    // min/max stats — which is exactly why the lakehouse keeps Avro at
    // the INGEST boundary and converts to columnar for the silver tier;
    // this query proves the boundary itself round-trips losslessly
    // (schema + values), with column PRUNING still effective (the Avro
    // reader projects only the requested fields per record). At 100 TB
    // Avro is the wire/landing codec, never the scan codec. This
    // distribution bundles the Avro classes in spark-sql but omits the
    // "avro" alias from the DataSourceRegister service file, so the
    // format goes by its fully-qualified class name.
    QueryDef("s45_avro_interchange", (s, dir) => {
      val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val path = tmp("s45_avro")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").format(AvroFmt).save(path)
      s.read.format(AvroFmt).load(path)
        .filter(col("o_totalprice") > 150000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round((sum(o_totalprice))*100)/100").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                (round((sum(o_totalprice))*100)/100) AS total
         FROM orders WHERE o_totalprice > 150000.0
         GROUP BY 1 ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S46
    // IN-set point lookup — the multi-key fetch workload (serve a batch
    // of entity ids from a big fact table) that neither a range bound
    // nor a single-point bound covers: the probe keys are SPARSE, so a
    // covering [min, max] range keeps every file, and round-robin
    // ingest order means min/max stats can't prune either. The table
    // carries a bloom index on the key; the scan takes a
    // ColumnBound.in(keys), and pruneFiles probes each key against each
    // file's bloom — opening ~|keys| files out of the whole table.
    // That's the 100 TB shape: a k-key batch fetch reads O(k) files
    // from the LOG's metadata, no listing, no full scan. The 5-row key
    // collect is bounded driver-side metadata (the serve pattern: the
    // key batch arrives from the caller; here it's derived
    // deterministically so the oracle can restate it as a subquery).
    QueryDef("s46_inset_lookup", (s, dir) => {
      val path = tmp("s46_delta")
      DeltaLite.create(s, path,
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8, pmod(col("o_orderkey"), lit(8))),
        properties = Map("graft.bloom.columns" -> "o_orderkey"))
      val keys: Seq[Any] = t(s, dir, "orders")
        .select(col("o_orderkey")).orderBy(col("o_orderkey").asc).limit(5)
        .collect().map(_.get(0)).toSeq
      DeltaLite.scan(s, path,
          Seq(DeltaLite.ColumnBound.in("o_orderkey", keys)))
        .filter(col("o_orderkey").isInCollection(keys))
        .select(col("o_orderkey"), col("o_custkey"),
          expr("round((o_totalprice)*100)/100").as("price"))
        .orderBy(col("o_orderkey").asc_nulls_last)
    }, Some(
      """SELECT o_orderkey, o_custkey,
                (round((o_totalprice)*100)/100) AS price
         FROM orders
         WHERE o_orderkey IN (SELECT o_orderkey FROM orders
                              ORDER BY o_orderkey ASC LIMIT 5)
         ORDER BY o_orderkey ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S65
    // STANDARD DELTA-PROTOCOL INTEROP (graft.sources.DeltaInterop): the
    // reference stack (dbt-duckdb + delta-rs) writes REAL Delta tables —
    // parquet + `_delta_log/<v>.json` add/remove/metaData actions. This
    // query builds one (export → append → partition-aligned DELETE as a
    // pure remove-actions commit), then reads the final snapshot through
    // `spark.read.format("graft-delta")` — the interop DISPATCH path: a
    // standard `_delta_log` replays into the native Snapshot model, so
    // partition re-attachment and stats file pruning are the same
    // machinery graft's own log uses. Sums ride the cents lattice
    // (BIGINT, aggregation-order-proof). Scale: the replay is one
    // driver pass over log JSON (metadata-proportional, delta-spark's
    // own Snapshot cost shape); the partitioned delete rewrote ZERO
    // data — remove actions only.
    QueryDef("s65_delta_interop", (s, dir) => {
      val path = tmp("s65_delta")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.sources.DeltaInterop.exportToDelta(s,
        li.filter(col("l_orderkey") % 3 === 0), path,
        partitionBy = Seq("l_returnflag"))
      graft.sources.DeltaInterop.exportAppend(s,
        li.filter(col("l_orderkey") % 3 === 1), path)
      graft.sources.DeltaInterop.exportDeletePartition(s, path,
        "l_returnflag", "R")
      s.read.format("graft-delta").load(path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)
    }, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents
         FROM lineitem
         WHERE l_orderkey % 3 IN (0, 1) AND l_returnflag <> 'R'
         GROUP BY 1, 2
         ORDER BY l_returnflag ASC NULLS LAST,
                  l_linestatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S66
    // Standard-Delta TIME TRAVEL through the format options: the same
    // export → append → delete lifecycle, read at EVERY version via
    // `.option("versionAsOf", v)` and unioned with a version tag — the
    // replay must reconstruct each historical live-file set exactly
    // (v0 = first slice, v1 = + appended slice, v2 = the delete's
    // remove actions applied). The oracle restates the three states
    // from the fixture directly. TIMESTAMP AS OF resolution is pinned
    // in DeltaInteropSpec (commitInfo timestamps are wall-clock — not
    // oracle-able).
    QueryDef("s66_delta_time_travel", (s, dir) => {
      val path = tmp("s66_delta")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      graft.sources.DeltaInterop.exportToDelta(s,
        li.filter(col("l_orderkey") % 3 === 0), path,
        partitionBy = Seq("l_returnflag"))
      graft.sources.DeltaInterop.exportAppend(s,
        li.filter(col("l_orderkey") % 3 === 1), path)
      graft.sources.DeltaInterop.exportDeletePartition(s, path,
        "l_returnflag", "R")
      val perV = (0L to 2L).map(v =>
        s.read.format("graft-delta").option("versionAsOf", v).load(path)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
          .withColumn("version", lit(v)))
      perV.reduce(_ unionByName _)
        .select(col("version"), col("l_returnflag"), col("n"),
          col("sum_qty"))
        .orderBy(col("version").asc, col("l_returnflag").asc_nulls_last)
    }, Some(
      """WITH li AS (
           SELECT l_orderkey % 3 AS slice, l_returnflag,
                  CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem),
         v AS (
           SELECT CAST(0 AS BIGINT) AS version, l_returnflag, qty
           FROM li WHERE slice = 0
           UNION ALL
           SELECT CAST(1 AS BIGINT), l_returnflag, qty
           FROM li WHERE slice IN (0, 1)
           UNION ALL
           SELECT CAST(2 AS BIGINT), l_returnflag, qty
           FROM li WHERE slice IN (0, 1) AND l_returnflag <> 'R')
         SELECT version, l_returnflag, count(*) AS n,
                CAST(sum(qty) AS BIGINT) AS sum_qty
         FROM v GROUP BY 1, 2
         ORDER BY version ASC, l_returnflag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S68
    // Standard-Delta CHANGE FEED: Delta's `table_changes(from, to)`
    // over a real `_delta_log` — version 0's adds arrive as the
    // initial inserts, the append's adds as inserts, and the
    // partition-aligned delete's remove actions surface their files'
    // pre-commit rows as deletes (read from the removed files — the
    // CDF shape a CDC consumer migrating off the reference stack
    // needs). dataChange=false rewrites are invisible by contract
    // (pinned in DeltaInteropSpec with a hand-authored compaction
    // commit). Counts ride BIGINT; per-commit work is O(files that
    // commit touched), the native changes() cost shape.
    QueryDef("s68_delta_cdf", (s, dir) => {
      val path = tmp("s68_delta")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      graft.sources.DeltaInterop.exportToDelta(s,
        li.filter(col("l_orderkey") % 3 === 0), path,
        partitionBy = Seq("l_returnflag"))
      graft.sources.DeltaInterop.exportAppend(s,
        li.filter(col("l_orderkey") % 3 === 1), path)
      graft.sources.DeltaInterop.exportDeletePartition(s, path,
        "l_returnflag", "R")
      graft.sources.DeltaInterop.tableChanges(s, path, 0L, 2L)
        .groupBy(col("_commit_version"), col("_change_type"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("_commit_version").asc,
          col("_change_type").asc_nulls_last,
          col("l_returnflag").asc_nulls_last)
    }, Some(
      """WITH li AS (
           SELECT l_orderkey % 3 AS slice, l_returnflag,
                  CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem),
         ch AS (
           SELECT CAST(0 AS BIGINT) AS _commit_version,
                  'insert' AS _change_type, l_returnflag, qty
           FROM li WHERE slice = 0
           UNION ALL
           SELECT CAST(1 AS BIGINT), 'insert', l_returnflag, qty
           FROM li WHERE slice = 1
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'delete', l_returnflag, qty
           FROM li WHERE slice IN (0, 1) AND l_returnflag = 'R')
         SELECT _commit_version, _change_type, l_returnflag,
                count(*) AS n, CAST(sum(qty) AS BIGINT) AS sum_qty
         FROM ch GROUP BY 1, 2, 3
         ORDER BY _commit_version ASC, _change_type ASC NULLS LAST,
                  l_returnflag ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S71
    // Standard-Delta DELETION VECTORS (round 17): delta-spark/delta-rs
    // write row-level DELETEs as roaring-bitmap DVs — the file is
    // re-added with a `deletionVector` descriptor, zero data rewritten.
    // This query authors exactly that commit shape against a real
    // exported table (protocol upgrade to readerFeatures
    // [deletionVectors], remove + re-add with a `u`-stored DV built by
    // graft's one DV writer — the same public-format codec the reader
    // decodes), then reads the final snapshot through the format
    // dispatch: the deleted rows must vanish without any file rewrite.
    // The row-index set is derived from the WRITTEN file's own
    // `_metadata.row_index` (the bitmap builds on executors; the READ
    // side ships only compact roaring bytes to executors and
    // anti-joins). Oracle: the surviving predicate restated on the
    // fixture.
    QueryDef("s71_delta_dv", (s, dir) => {
      val path = tmp("s71_delta")
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        .coalesce(1)
      graft.sources.DeltaInterop.exportToDelta(s, li, path)
      val root = java.nio.file.Paths.get(path)
      val snap0 = graft.sources.DeltaInterop.snapshot(s, path)
      val rel = snap0.files match {
        case Seq(only) => only.path
        case fs => sys.error(s"expected one exported file, got ${fs.size}")
      }
      // the positions a foreign DELETE WHERE l_returnflag='R' would mask
      val positions = s.read.parquet(root.resolve(rel).toString)
        .filter(col("l_returnflag") === "R")
        .select(lit(rel).as("path"), expr("_metadata.row_index").as("row_index"))
      val Seq((_, desc)) = graft.sources.DeltaLite.writeDeletionVectors(s,
        path, positions, graft.sources.DeltaLite.dvPositionsFrame(s, path, Nil)._1)
      val dvJson = graft.sources.DeletionVectors.toJson(desc)
      java.nio.file.Files.write(
        root.resolve("_delta_log").resolve(f"${1L}%020d.json"), Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
          s"""{"remove":{"path":"$rel","deletionTimestamp":1700000000000,"dataChange":true}}""",
          s"""{"add":{"path":"$rel","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}""",
          """{"commitInfo":{"timestamp":1700000000000,"operation":"DELETE"}}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      s.read.format("graft-delta").load(path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)
    }, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  AS sum_qty
         FROM lineitem
         WHERE l_orderkey % 3 = 0 AND l_returnflag <> 'R'
         GROUP BY 1, 2
         ORDER BY l_returnflag ASC NULLS LAST,
                  l_linestatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S75
    // Row-level DELETE WHERE via DELETION VECTORS on the EXPORT path
    // (round 17): where s71 READS a foreign writer's DVs, this WRITES
    // them — graft.sources.DeltaInterop.exportDeleteWhere flips each
    // touched file to (remove(old identity), add(same path, packed
    // roaring DV)) with ZERO data files rewritten, upgrading the
    // table's protocol to table features on first use. Two sequential
    // deletes exercise both DV paths: the fresh bitmap AND the
    // old-∪-new union (a re-delete must never forget prior deletes).
    // At 100 TB this is THE delete shape: bitmaps build on executors,
    // the driver holds compact bytes, and no byte of surviving data
    // moves. The serving read is the graft-delta dispatch over the
    // DV'd standard log.
    QueryDef("s75_delta_dv_delete", (s, dir) => {
      val path = tmp("s75_delta")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .coalesce(2) // two data files: the deletes touch a real subset
      graft.sources.DeltaInterop.exportToDelta(s, src, path)
      graft.sources.DeltaInterop.exportDeleteWhere(s, path,
        "o_orderstatus = 'F'")
      graft.sources.DeltaInterop.exportDeleteWhere(s, path,
        "cents % 10 = 3") // overlaps the first delete → union path
      s.read.format("graft-delta").load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM (SELECT o_orderstatus,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders) t
         WHERE o_orderstatus <> 'F' AND cents % 10 <> 3
         GROUP BY 1
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S77
    // Row-level UPDATE via deletion vectors on the EXPORT path
    // (round 18): graft.sources.DeltaInterop.exportUpdateWhere DVs
    // the matched rows out of their files and appends the rewritten
    // rows as fresh files in ONE commit — no surviving byte moves.
    // Two sequential updates exercise the fresh-DV AND the
    // old-∪-new union paths; the second predicate reads the first's
    // committed state (cents untouched by update 1, so the oracle's
    // CASE chain stays exact integer arithmetic). The serving read is
    // the graft-delta dispatch over the DV'd standard log.
    QueryDef("s77_delta_update", (s, dir) => {
      val path = tmp("s77_delta")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus"))
        .coalesce(2)
      graft.sources.DeltaInterop.exportToDelta(s, src, path)
      graft.sources.DeltaInterop.exportUpdateWhere(s, path,
        "o_orderstatus = 'F'", Map("o_orderstatus" -> "'U'"))
      graft.sources.DeltaInterop.exportUpdateWhere(s, path,
        "cents % 10 = 3", Map("cents" -> "cents + 1000000"))
      s.read.format("graft-delta").load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH base AS (
           SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  o_orderstatus
           FROM orders),
         u1 AS (
           SELECT o_orderkey, cents,
                  CASE WHEN o_orderstatus = 'F' THEN 'U'
                       ELSE o_orderstatus END AS o_orderstatus
           FROM base),
         u2 AS (
           SELECT o_orderkey,
                  CASE WHEN cents % 10 = 3 THEN cents + 1000000
                       ELSE cents END AS cents,
                  o_orderstatus
           FROM u1)
         SELECT o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM u2
         GROUP BY 1
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S78
    // MERGE (upsert) on the EXPORT path (round 18) — the reference
    // stack's bread-and-butter: dbt incremental `merge` materialized
    // to a shared Delta table. exportMerge DVs each matched target
    // row, appends the source's rewrites + inserts as fresh files,
    // and commits once under OCC. Candidate files prune by the
    // source's key bounds — at 100 TB a selective merge opens only
    // key-overlapping files. Matched keys (o_orderkey % 7 = 0)
    // rewrite to the source's values; negated keys are guaranteed-new
    // inserts. Oracle: the same upsert restated as a CASE + UNION ALL.
    QueryDef("s78_delta_merge", (s, dir) => {
      val path = tmp("s78_delta")
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus"))
      graft.sources.DeltaInterop.exportToDelta(s, base.coalesce(2), path)
      val source = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          (col("cents") + 5).as("cents"),
          lit("M").as("o_orderstatus"))
        .unionByName(base.filter(col("o_orderkey") % 11 === 0 &&
            col("o_orderkey") > 0) // key 0 would negate to itself
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("cents"), lit("N").as("o_orderstatus")))
      graft.sources.DeltaInterop.exportMerge(s, path, source,
        Seq("o_orderkey"))
      s.read.format("graft-delta").load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          sum(col("o_orderkey")).as("sum_key"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    }, Some(
      """WITH base AS (
           SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  o_orderstatus
           FROM orders),
         merged AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 7 = 0 THEN cents + 5
                       ELSE cents END AS cents,
                  CASE WHEN o_orderkey % 7 = 0 THEN 'M'
                       ELSE o_orderstatus END AS o_orderstatus
           FROM base
           UNION ALL
           SELECT -o_orderkey, cents, 'N'
           FROM base WHERE o_orderkey % 11 = 0 AND o_orderkey > 0)
         SELECT o_orderstatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM merged
         GROUP BY 1
         ORDER BY o_orderstatus ASC NULLS LAST""")),

    // ------------------------------------------------------------------ S67
    // CONVERT FROM DELTA (zero-copy adoption): a standard Delta table
    // becomes a graft-delta table in place — graft's version 0 restates
    // the Delta snapshot's live file set, NO data moves — and then the
    // FULL native write surface runs on the adopted files: a row-level
    // DELETE (beyond the exporter's partition-aligned one) rewrites
    // only key-overlapping files, and the serving read is the native
    // one. This is the lake-migration path: a 100 TB reference-stack
    // table switches engines with one metadata commit.
    QueryDef("s67_delta_convert", (s, dir) => {
      val path = tmp("s67_delta")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.sources.DeltaInterop.exportToDelta(s,
        li.filter(col("l_orderkey") % 3 === 0), path)
      graft.sources.DeltaInterop.exportAppend(s,
        li.filter(col("l_orderkey") % 3 === 1), path)
      s.sql(s"CONVERT FROM DELTA '$path'")
      DeltaLite.delete(s, path, col("cents") < 100000L * 100L)
      DeltaLite.read(s, path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)
    }, Some(
      """WITH li AS (
           SELECT l_returnflag, l_linestatus,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem WHERE l_orderkey % 3 IN (0, 1))
         SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM li WHERE cents >= 10000000
         GROUP BY 1, 2
         ORDER BY l_returnflag ASC NULLS LAST,
                  l_linestatus ASC NULLS LAST"""))
  )
}
