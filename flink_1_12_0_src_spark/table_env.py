"""TableEnvironment façade: the reference's SQL entry point on Spark.

Mirrors TableEnvironmentImpl.executeSql / sqlQuery (flink-table-api-java
.../internal/TableEnvironmentImpl.java:658,638) and the §3.1 lifecycle:
parse → convert → plan, with Catalyst as the planner. Statement routing:

- ``CREATE TABLE … WITH (connector…)`` → parse DDL (plans/dialect.py),
  translate connector options (sources/connectors.py), register the scan as
  a temp view (batch) + remember streaming/watermark metadata;
- ``INSERT INTO sink SELECT …`` → run the translated query, write via the
  sink table's writer config;
- anything else → Flink-dialect query translation → ``spark.sql``.

The catalog role is GenericInMemoryCatalog.java:52; watermark DDL becomes
``withWatermark`` on the streaming scan (StreamExecWatermarkAssigner.scala:45).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from flink_1_12_0_src_spark.plans.dialect import parse_create_table, translate_query
from flink_1_12_0_src_spark.sources.connectors import reader_config, writer_config


@dataclass
class CatalogTable:
    name: str
    schema_ddl: str
    options: dict
    partition_by: list[str]
    watermark: tuple[str, str] | None  # (column, delay-string)
    computed: list[tuple[str, str]] = None  # computed columns: (name, expr)
    # FLIP-107 metadata columns: (name, spark_type, metadata key, virtual)
    metadata: list[tuple[str, str, str, bool]] = None


# Connector metadata keys → Spark read-side expressions (FLIP-107,
# SupportsReadingMetadata). Filesystem keys resolve from Spark's hidden
# ``_metadata`` struct; kafka keys are same-named columns of Spark's kafka
# source rows (broker-dependent, untestable in this env — translation only).
_FS_METADATA_KEYS = {
    "file.path": "_metadata.file_path",
    "file.name": "_metadata.file_name",
    "file.size": "_metadata.file_size",
    "file.modification-time": "_metadata.file_modification_time",
}
_KAFKA_METADATA_KEYS = {"topic", "partition", "offset", "timestamp", "timestamp-type"}


def _holds_no_data_files(path: str | None) -> bool:
    """True for a local directory with no data file anywhere under it (names
    starting with ``_`` or ``.`` are markers and checksums, which Spark's
    file listing skips too)."""
    import os

    root = (path or "").removeprefix("file:")
    if not os.path.isdir(root):
        return False
    return not any(
        not f.startswith(("_", ".")) for _d, _s, files in os.walk(root) for f in files
    )


class TableEnvironment:
    """Minimal TableEnvironment: in-memory catalog + Flink-dialect SQL."""

    # SET keys translated onto live Spark confs (the rest are stored only,
    # like the reference's free-form session property map)
    _SET_CONF_MAP = {
        "table.exec.resource.default-parallelism": "spark.sql.shuffle.partitions",
        "table.optimizer.join-reorder-enabled": "spark.sql.cbo.joinReorder.enabled",
        "table.optimizer.adaptive-execution.enabled": "spark.sql.adaptive.enabled",
    }

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, CatalogTable] = {}
        # temporal table functions: name → (history DF, time attr, primary key)
        self._temporal_fns: dict[str, tuple[DataFrame, str, str]] = {}
        # SET/RESET session properties (SqlCommandParser.java:310-322) +
        # the pre-SET values of any live conf we changed, for RESET
        self._session_props: dict[str, str] = {}
        self._conf_originals: dict[str, str] = {}
        # catalog/database registry (GenericInMemoryCatalog.java:52 +
        # SqlCreateCatalog/SqlCreateDatabase): names only — the table
        # namespace stays flat, as in the single in-memory catalog model
        self._catalogs = {"default_catalog"}
        self._databases = {"default_database"}
        self._db_props: dict[str, dict[str, str]] = {}
        self.current_catalog = "default_catalog"
        self.current_database = "default_database"
        # module registry (FLIP-68 — TableEnvironment.java:354-362
        # loadModule/unloadModule, :689 listModules; ModuleManager resolves
        # functions through modules in LOAD order, 'core' always first):
        # name → module object (opaque here; resolution order is the surface)
        self._modules: dict[str, object] = {"core": None}

    # -- DDL / DML entry point (executeSql analog) -------------------------
    def execute_sql(self, stmt: str) -> DataFrame | None:
        s = stmt.strip().rstrip(";")
        head = s.split(None, 2)[0].upper() if s else ""
        if (
            head == "CREATE"
            and re.search(r"\bTABLE\b", s, re.I)
            and ("WITH" in s.upper() or re.search(r"\bLIKE\b", s, re.I))
        ):
            return self._create_table(s)
        if head == "INSERT":
            return self._insert_into(s)
        if re.match(r"ALTER\s+(TEMPORARY\s+)?(SYSTEM\s+)?FUNCTION", s, re.I):
            # SqlAlterFunction — redefinition keeps the name, swaps the target
            return self._create_function(
                re.sub(r"^ALTER", "CREATE", s, count=1, flags=re.I)
            )
        if re.match(r"DROP\s+(TEMPORARY\s+)?(SYSTEM\s+)?FUNCTION", s, re.I):
            # SqlDropFunction — route to Spark's own DROP TEMPORARY FUNCTION
            name = s.split()[-1]
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            return None
        if re.match(r"ALTER\s+DATABASE\s+\w+\s+SET", s, re.I):
            # SqlAlterDatabase — property bag on a registered database
            m = re.match(r"ALTER\s+DATABASE\s+(\w+)\s+SET\s*\((.*)\)\s*$", s, re.I | re.S)
            if not m or m.group(1) not in self._databases:
                raise ValueError(f"unknown database: {s.split()[2]}")
            self._db_props.setdefault(m.group(1), {}).update(
                dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(2)))
            )
            return None
        if head == "DROP" and re.match(r"DROP\s+CATALOG\b", s, re.I):
            m = re.match(r"DROP\s+CATALOG\s+(IF\s+EXISTS\s+)?(\w+)\s*$", s, re.I)
            if not m:
                raise ValueError(f"cannot parse DROP CATALOG statement: {s}")
            name = m.group(2)
            if name == "default_catalog" or name == self.current_catalog:
                raise ValueError(f"cannot drop the default/current catalog: {name}")
            if name not in self._catalogs and not m.group(1):
                raise ValueError(f"unknown catalog: {name}")
            self._catalogs.discard(name)
            return None
        if head == "DROP" and re.match(r"DROP\s+DATABASE\b", s, re.I):
            m = re.match(r"DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(\w+)\s*$", s, re.I)
            if not m:
                raise ValueError(f"cannot parse DROP DATABASE statement: {s}")
            name = m.group(2)
            if name == "default_database" or name == self.current_database:
                raise ValueError(f"cannot drop the default/current database: {name}")
            if name not in self._databases and not m.group(1):
                raise ValueError(f"unknown database: {name}")
            self._databases.discard(name)
            return None
        if head == "DROP":
            # SqlDropTable / SqlDropView: DROP [TEMPORARY] TABLE/VIEW
            # [IF EXISTS] name. Reject anything else rather than falling
            # through and silently dropping a table whose name happens to be
            # the statement's last token.
            m = re.match(
                r"DROP\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$",
                s,
                re.I,
            )
            if not m:
                raise ValueError(f"unsupported DROP statement: {s}")
            name = m.group(1)
            self._tables.pop(name, None)
            self.spark.catalog.dropTempView(name)
            return None
        if head == "ALTER":
            return self._alter_table(s)
        if re.match(r"CREATE\s+(TEMPORARY\s+)?(SYSTEM\s+)?FUNCTION", s, re.I):
            return self._create_function(s)

        if re.match(r"CREATE\s+CATALOG\s+\w+", s, re.I):
            # SqlCreateCatalog — only the in-memory factory exists here
            m = re.match(r"CREATE\s+CATALOG\s+(\w+)(?:\s+WITH\s*\((.*)\))?$", s, re.I | re.S)
            opts = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(2) or ""))
            ctype = opts.get("type", "generic_in_memory")
            if ctype != "generic_in_memory":
                raise ValueError(
                    f"unsupported catalog type: {ctype!r} (only "
                    "generic_in_memory — hive/jdbc catalogs are out of scope)"
                )
            self._catalogs.add(m.group(1))
            return None
        if re.match(r"CREATE\s+DATABASE\s+", s, re.I):
            # SqlCreateDatabase [IF NOT EXISTS]
            m = re.match(r"CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)", s, re.I)
            name = m.group(2)
            if name in self._databases and not m.group(1):
                raise ValueError(f"database already exists: {name}")
            self._databases.add(name)
            return None
        if head == "SHOW" and s.upper().endswith("TABLES"):
            # SqlShowTables → one row per catalog entry (TableEnvironmentImpl)
            names = sorted(
                set(self._tables) | {t.name for t in self.spark.catalog.listTables()}
            )
            return self.spark.createDataFrame([(n,) for n in names], "table_name string")
        if head == "SHOW" and s.upper().endswith("VIEWS"):
            # SqlShowViews → temp views not backed by a connector table
            names = sorted(
                {t.name for t in self.spark.catalog.listTables() if t.tableType == "TEMPORARY"}
                - set(self._tables)
            )
            return self.spark.createDataFrame([(n,) for n in names], "view_name string")
        if head == "SHOW" and s.upper().endswith("CATALOGS"):
            # SqlCommandParser SHOW_CATALOGS
            return self.spark.createDataFrame(
                [(c,) for c in sorted(self._catalogs)], "catalog_name string"
            )
        if head == "SHOW" and s.upper().endswith("CURRENT CATALOG"):
            return self.spark.createDataFrame(
                [(self.current_catalog,)], "current_catalog_name string"
            )
        if head == "SHOW" and s.upper().endswith("CURRENT DATABASE"):
            return self.spark.createDataFrame(
                [(self.current_database,)], "current_database_name string"
            )
        if head == "SHOW" and re.match(r"SHOW\s+PARTITIONS\s+\w+$", s, re.I):
            # SqlShowPartitions — one row per partition spec of a
            # partitioned catalog table (hive-style directory layout)
            import os

            name = s.split()[-1]
            tbl = self._tables.get(name)
            if tbl is None or not tbl.partition_by:
                raise ValueError(f"SHOW PARTITIONS: {name} is not a partitioned catalog table")
            root = reader_config(tbl.options)["path"].removeprefix("file:")
            specs = sorted(
                os.path.relpath(d, root).replace(os.sep, "/")
                for d, _sub, files in os.walk(root)
                if any(not f.startswith(("_", ".")) for f in files) and d != root
            )
            return self.spark.createDataFrame(
                [(p_,) for p_ in specs], "partition_name string"
            )
        if head == "SHOW" and s.upper().endswith("MODULES"):
            # SqlCommandParser.java:250 SHOW_MODULES — module names in
            # resolution (load) order, 'core' first (ModuleManager)
            return self.spark.createDataFrame(
                [(n,) for n in self._modules], "module_name string"
            )
        if head == "SHOW" and s.upper().endswith("DATABASES"):
            # SqlShowDatabases → the single in-memory catalog database
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self._databases)], "database_name string"
            )
        if head == "USE":
            # SqlUseDatabase / SqlUseCatalog over the registry
            parts = s.split()
            if len(parts) < 2:
                raise ValueError("USE needs a database (or CATALOG) name")
            if parts[1].upper() == "CATALOG":
                if len(parts) < 3 or parts[2] not in self._catalogs:
                    raise ValueError(f"unknown catalog: {' '.join(parts[2:3]) or '?'}")
                self.current_catalog = parts[2]
                return None
            db = parts[-1].split(".")[-1]
            if db not in self._databases:
                raise ValueError(f"unknown database: {db}")
            self.current_database = db
            return None
        if head == "SET":
            # SqlCommandParser.java:310 — SET [key = value]; bare SET lists
            # the session properties (whitespace ignored left of '=' only)
            m = re.match(r"SET(\s+(?P<k>\S+)\s*=(?P<v>.*))?$", s, re.I | re.S)
            if not m:
                raise ValueError(f"unparseable SET: {s[:120]}")
            if m.group("k") is None:
                return self.spark.createDataFrame(
                    sorted(self._session_props.items()), "key string, value string"
                )
            k, v = m.group("k"), m.group("v").rstrip()
            # right side keeps leading content after '=' minus one space
            v = v[1:] if v.startswith(" ") else v
            # accept the quoted SET 'key' = 'value' form alongside 1.12's
            # bare one (SqlClient grew the quoted syntax in 1.13; users mix)
            if len(k) >= 2 and k[0] == k[-1] == "'":
                k = k[1:-1]
            if len(v) >= 2 and v[0] == v[-1] == "'":
                v = v[1:-1]
            self._session_props[k] = v
            conf = self._SET_CONF_MAP.get(k)
            if conf:
                if conf not in self._conf_originals:
                    self._conf_originals[conf] = self.spark.conf.get(conf)
                self.spark.conf.set(conf, v)
            return None
        if head == "RESET":
            # SqlCommandParser.java:321 — drop all session properties and
            # restore any live conf SET changed
            self._session_props.clear()
            for conf, orig in self._conf_originals.items():
                self.spark.conf.set(conf, orig)
            self._conf_originals.clear()
            return None
        if head == "SHOW" and s.upper().endswith("FUNCTIONS"):
            # SqlShowFunctions → registered function names (built-ins + UDFs)
            rows = sorted({f.name for f in self.spark.catalog.listFunctions()})
            return self.spark.createDataFrame([(n,) for n in rows], "function_name string")
        if head in ("DESCRIBE", "DESC") and re.match(
            r"DESC(RIBE)?\s+CATALOG\s+\w+$", s, re.I
        ):
            # SqlDescribeCatalog — the in-memory catalog's properties
            name = s.split()[-1]
            if name not in self._catalogs:
                raise ValueError(f"unknown catalog: {name}")
            return self.spark.createDataFrame(
                [("default database", "default_database"), ("type", "generic_in_memory")],
                "info_name string, info_value string",
            )
        if head in ("DESCRIBE", "DESC") and re.match(
            r"DESC(RIBE)?\s+DATABASE\s+\w+$", s, re.I
        ):
            # SqlDescribeDatabase
            name = s.split()[-1]
            if name not in self._databases:
                raise ValueError(f"unknown database: {name}")
            return self.spark.createDataFrame(
                [("catalog", self.current_catalog), ("comment", "")],
                "info_name string, info_value string",
            )
        if head in ("DESCRIBE", "DESC"):
            # SqlRichDescribeTable → name/type/nullable rows
            name = s.split()[-1]
            return self.spark.createDataFrame(
                [
                    (f.name, f.dataType.simpleString(), f.nullable)
                    for f in self.spark.table(name).schema.fields
                ],
                "col_name string, data_type string, nullable boolean",
            )
        if head == "EXPLAIN":
            # SqlExplain → the planned query's physical plan text
            df = self.sql_query(s.split(None, 1)[1])
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            return self.spark.createDataFrame([(plan,)], "plan string")
        if head == "CREATE" and re.search(r"^CREATE\s+(TEMPORARY\s+)?VIEW", s, re.I):
            m = re.match(
                r"CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(\w+)\s+AS\s+(.*)", s, re.I | re.S
            )
            if not m:
                raise ValueError(f"unparseable CREATE VIEW: {s[:120]}")
            self.sql_query(m.group(2)).createOrReplaceTempView(m.group(1))
            return None
        return self.sql_query(s)

    # -- query entry point (sqlQuery analog) -------------------------------
    def sql_query(self, query: str) -> DataFrame:
        q = self._rewrite_system_time_joins(self._apply_options_hints(query))
        return self.spark.sql(translate_query(q))

    # -- FLIP-132: JOIN dim FOR SYSTEM_TIME AS OF fact.rowtime -------------
    _SYSTEM_TIME_RE = re.compile(
        r"(?P<left>LEFT\s+(?:OUTER\s+)?)?JOIN\s+(?P<dim>\w+)\s+"
        r"FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<fa>\w+)\.(?P<ft>\w+)\s+"
        r"(?:AS\s+)?(?P<alias>\w+)\s+ON\s+"
        r"(?P<cond>\w+\.\w+\s*=\s*(?:'[^']*'|\w+\.\w+)"
        r"(?:\s+AND\s+\w+\.\w+\s*=\s*(?:'[^']*'|\w+\.\w+))*)",
        re.I | re.S,
    )

    def _rewrite_system_time_joins(self, query: str) -> str:
        """Event-time temporal join SQL (FLIP-132, new in Flink 1.12 —
        flink-table-planner-blink .../physical/stream/
        StreamExecTemporalJoinRule / TemporalRowTimeJoinOperator.java):
        ``JOIN dim FOR SYSTEM_TIME AS OF f.rowtime AS d ON f.k = d.k`` picks,
        per fact row, the dim version current at the fact's event time.

        Lowered to a derived as-of table: DISTINCT fact (key, rowtime)
        combinations hash-join the dim on the key equalities, version rows
        later than the fact time drop, and a window keeps the greatest
        version per combination — then the derived table equi-joins back to
        the facts. This keeps every join a hash join (per-key fan-out =
        |facts_k| × |versions_k|); a LATERAL LIMIT-1 subquery instead
        decorrelates to a nested loop over DISTINCT timestamps × the whole
        dim, which measured 100× slower at bench scale. Ties on the version
        time break by the version time column only, matching the reference's
        latestRightRowToJoin single-version-per-timestamp assumption. The
        dim must be a catalog table whose DDL declares a WATERMARK column —
        Flink's own requirement for the version attribute.

        Condition ordering matches the reference exactly
        (TemporalRowTimeJoinOperator.java:244-246): the latest version is
        selected over ALL versions of the key first, and any non-key ON
        predicate applies to the SELECTED row afterwards — a fact whose
        current version fails the predicate emits nothing (inner) or a NULL
        pad (LEFT), it does NOT fall back to an older version that would
        have passed."""

        def repl(m: re.Match) -> str:
            dim, alias, fa, ft = m.group("dim"), m.group("alias"), m.group("fa"), m.group("ft")
            if dim not in self._tables or not self._tables[dim].watermark:
                raise ValueError(
                    f"FOR SYSTEM_TIME AS OF on {dim}: the build side must be a "
                    "catalog table with a WATERMARK (rowtime) column — "
                    "mirroring Flink's event-time temporal join requirement"
                )
            vt = self._tables[dim].watermark[0]
            left = m.group("left") or ""
            cond = m.group("cond")
            # the fact side must be a plain table/view in the same FROM
            fm = re.search(rf"FROM\s+(\w+)\s+(?:AS\s+)?{fa}\b", query, re.I)
            if not fm:
                raise ValueError(
                    f"FOR SYSTEM_TIME AS OF: fact alias {fa!r} must reference "
                    "a plain table or view in the FROM clause"
                )
            fact_tbl = fm.group(1)
            # split the ON conjunction into fact-key equalities vs dim-only
            fact_cols: list[str] = []  # fact-side column of each key equality
            inner_conds: list[str] = []
            outer_conds: list[str] = []
            for eq in re.split(r"\s+AND\s+", cond, flags=re.I):
                # partition on the FIRST '=' — a dim-side string literal may
                # itself contain '=' (the hint regex admits '...' bodies)
                lhs, _sep, rhs = (s.strip() for s in eq.partition("="))
                sides = {}
                for term in (lhs, rhs):
                    tm = re.match(r"(\w+)\.(\w+)$", term)
                    sides[term] = tm.groups() if tm else None
                refs = {v[0] for v in sides.values() if v}
                if refs == {fa, alias}:
                    fcol = next(v[1] for v in sides.values() if v and v[0] == fa)
                    fact_cols.append(fcol)
                    inner_conds.append(
                        eq.replace(f"{fa}.", "__f.").replace(f"{alias}.", "__d.")
                    )
                    outer_conds.append(f"{alias}.__fk_{fcol} = {fa}.{fcol}")
                elif refs <= {alias}:
                    # dim-side-only predicate: the reference applies the join
                    # condition to the SELECTED latest version, not before
                    # version selection — keep it on the OUTER join
                    outer_conds.append(eq)
                else:
                    raise ValueError(
                        f"unsupported FOR SYSTEM_TIME ON term: {eq!r} (each "
                        "term must equate a fact column with a dim column, or "
                        "constrain the dim side alone)"
                    )
            if not fact_cols:
                raise ValueError(
                    "FOR SYSTEM_TIME AS OF needs at least one fact-to-dim key "
                    "equality in ON (the dim's primary-key join, as in Flink)"
                )
            fsel = ", ".join(dict.fromkeys(fact_cols + [ft]))
            fk_sel = ", ".join(
                f"__f.{c} AS __fk_{c}" for c in dict.fromkeys(fact_cols)
            )
            inner = " AND ".join(inner_conds + [f"__d.{vt} <= __f.{ft}"])
            derived = (
                f"(SELECT * FROM ("
                f"SELECT __d.*, {fk_sel}, __f.{ft} AS __ft, "
                f"ROW_NUMBER() OVER (PARTITION BY "
                + ", ".join(f"__f.{c}" for c in dict.fromkeys(fact_cols + [ft]))
                + f" ORDER BY __d.{vt} DESC) AS __rn "
                f"FROM (SELECT DISTINCT {fsel} FROM {fact_tbl}) __f "
                f"JOIN {dim} __d ON {inner}"
                f") WHERE __rn = 1)"
            )
            on = " AND ".join(outer_conds + [f"{alias}.__ft = {fa}.{ft}"])
            return f"{left}JOIN {derived} AS {alias} ON {on}"

        return self._SYSTEM_TIME_RE.sub(repl, query)

    # -- FLIP-113 dynamic table options ------------------------------------
    _HINT_RE = re.compile(
        r"(\bFROM|\bJOIN)\s+(\w+)\s*/\*\+\s*OPTIONS\s*\((.*?)\)\s*\*/", re.I | re.S
    )

    def _apply_options_hints(self, query: str) -> str:
        """``FROM t /*+ OPTIONS('k'='v') */`` — per-query dynamic table
        options (FLIP-113; flink-table-planner-blink .../hint/FlinkHints.java
        HINT_NAME_OPTIONS, merged over the catalog options exactly like
        CatalogSourceTable's dynamic-options merge). The hinted scan becomes
        a temp view of the table re-read with ``{**ddl_options, **hint}`` —
        scoped to this query; the catalog entry and its view are untouched."""

        def repl(m: re.Match) -> str:
            kw, name, body = m.group(1), m.group(2), m.group(3)
            opts = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", body))
            if not opts:
                raise ValueError(f"empty OPTIONS hint on table {name}")
            if name not in self._tables:
                raise ValueError(
                    f"OPTIONS hint on {name}: dynamic options apply only to "
                    "connector (DDL) tables, mirroring FlinkHints' catalog-"
                    "table-only scope"
                )
            tbl = self._tables[name]
            cfg = reader_config({**tbl.options, **opts})
            df = self._load_table_df(cfg, tbl)
            hinted = f"_hinted_{name}_{abs(hash(tuple(sorted(opts.items())))) % 10**8}"
            df.createOrReplaceTempView(hinted)
            return f"{kw} {hinted}"

        return self._HINT_RE.sub(repl, query)

    # -- streaming scan with the DDL's watermark applied -------------------
    def stream_table(self, name: str, extra_options: dict | None = None) -> DataFrame:
        """readStream over a registered filesystem table; applies the
        WATERMARK-clause delay from the DDL (rowtime attribute, §1.2)."""
        tbl = self._tables[name]
        cfg = reader_config(tbl.options)
        if not cfg["streaming_capable"]:
            raise ValueError(f"table {name} is not streaming-capable")
        if cfg["format"] == "avro":
            from flink_1_12_0_src_spark.sources.avro_py import stream_avro

            df = stream_avro(
                self.spark, cfg["path"], {**cfg["options"], **(extra_options or {})}
            )
        else:
            reader = self.spark.readStream.format(cfg["format"])
            # rate/kafka define their own fixed schemas and reject a user one
            if tbl.schema_ddl and cfg["format"] not in ("rate", "kafka"):
                reader = reader.schema(tbl.schema_ddl)
            for k, v in {**cfg["options"], **(extra_options or {})}.items():
                reader = reader.option(k, v)
            df = reader.load(cfg["path"]) if cfg["path"] else reader.load()
        if cfg["format"] == "rate" and tbl.schema_ddl:
            # datagen: project the rate source's monotonically increasing
            # ``value`` onto the DECLARED columns (sequence = start + value,
            # random = rand()-derived) so the stream honors the DDL schema
            # instead of leaking rate's raw (timestamp, value) pair. A
            # bounded generator (finite sequence or number-of-rows) must not
            # emit past exhaustion: the rate source itself cannot terminate,
            # so rows beyond the bound are filtered — the stream idles once
            # exhausted instead of ending (documented approximation of
            # DataGenTableSource's bounded termination).
            from pyspark.sql import functions as F

            cols = self._datagen_cols(
                tbl.schema_ddl, cfg.get("datagen_fields") or {}
            )
            bounds = [
                int(s["end"]) - int(s["start"]) + 1
                for _n, _t, s in cols
                if s.get("kind") == "sequence"
            ]
            if cfg.get("number_of_rows") is not None:
                bounds.append(int(cfg["number_of_rows"]))
            if bounds:
                df = df.filter(F.col("value") < min(bounds))
            df = df.select(*self._datagen_projection(cols, "value"))
        df = self._apply_metadata(df, tbl, cfg["format"])
        df = self._apply_computed(df, tbl)  # before watermark: rowtime may be computed
        if tbl.watermark:
            col, delay = tbl.watermark
            df = df.withWatermark(col, delay)
        return df

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def load_module(self, name: str, module: object) -> None:
        """TableEnvironment.loadModule (TableEnvironment.java:354; FLIP-68):
        append a module to the resolution order. Duplicate names are an
        error, as in ModuleManager.loadModule."""
        if name in self._modules:
            raise ValueError(f"module {name} already loaded")
        self._modules[name] = module

    def unload_module(self, name: str) -> None:
        """TableEnvironment.unloadModule (TableEnvironment.java:362;
        ModuleManager.java unloads ANY name incl. core — mirrored)."""
        if name not in self._modules:
            raise ValueError(f"No module with name {name} exists")
        del self._modules[name]

    def list_modules(self) -> list[str]:
        """TableEnvironment.listModules (TableEnvironment.java:689) —
        names in resolution order."""
        return list(self._modules)

    def explain_sql(self, query: str) -> str:
        """TableEnvironment.explainSql / SqlClient ``EXPLAIN [PLAN FOR]``
        (SqlClient.java operation parsing; TableEnvironmentImpl.explainSql):
        return the optimized physical plan of a dialect query as a string —
        Catalyst's formatted explain stands in for the reference's
        AST/optimized/physical trio."""
        df = self.sql_query(query)
        jvm = self.spark._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def from_path(self, name: str):
        """Fluent Table API entry point (TableEnvironment.from_ /
        Table.java:129 — SURVEY §3.2): returns a :class:`table_api.Table`
        over the named catalog view."""
        from flink_1_12_0_src_spark.table_api import Table

        return Table(self.spark.table(name))

    # -- statement sets ----------------------------------------------------
    def create_statement_set(self) -> "StatementSet":
        """TableEnvironment.createStatementSet (flink-table-api-java/.../
        StatementSet.java; internal StatementSetImpl): buffer multiple
        INSERT statements and execute them together — Flink's multi-sink
        job. Spark analog: the buffered writes run back-to-back on
        ``execute()``; a shared scan is deduplicated by persisting the
        source view before the inserts (caller-controlled, as with Flink's
        pipeline optimization)."""
        return StatementSet(self)

    # -- temporal table functions ------------------------------------------
    def create_temporal_table_function(
        self, name: str, history: DataFrame, time_attr: str, primary_key: str
    ) -> None:
        """Table.createTemporalTableFunction (flink-table-api-java/.../Table.java;
        TemporalTableFunctionImpl.java): register a function that versions
        ``history`` by ``time_attr`` per ``primary_key``. Joining a probe
        laterally against ``fn(probe_time)`` with key equality is Flink's
        temporal-table-function join; :meth:`join_lateral_temporal` lowers it
        to the as-of backward join."""
        self._temporal_fns[name] = (history, time_attr, primary_key)

    def join_lateral_temporal(
        self,
        probe: DataFrame,
        fn: str,
        probe_time: str,
        right_prefix: str = "",
    ) -> DataFrame:
        """``probe.joinLateral(fn(probe_time), key equality)`` — each probe
        row picks the version of the history row (same primary key) valid at
        its time attribute: the latest history row with time ≤ probe time.
        One union + window pass, no per-row lookups (operators/joins.py)."""
        from flink_1_12_0_src_spark.operators.joins import asof_join

        history, time_attr, pk = self._temporal_fns[fn]
        return asof_join(
            probe,
            history,
            on=[pk],
            left_time=probe_time,
            right_time=time_attr,
            right_prefix=right_prefix,
        )

    # ------------------------------------------------------------------ ---
    def _alter_table(self, stmt: str) -> None:
        """ALTER TABLE name RENAME TO new / ALTER TABLE name SET ('k'='v')
        (SqlAlterTableRename / SqlAlterTableOptions —
        flink-sql-parser/.../ddl/SqlAlterTable.java); ALTER VIEW name
        RENAME TO new / ALTER VIEW name AS query (SqlAlterViewRename /
        SqlAlterViewAs). Rename moves the catalog entry and re-registers
        the view under the new name; SET merges connector options and
        refreshes the scan."""
        m = re.match(r"ALTER\s+VIEW\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*$", stmt, re.I)
        if m:
            old, new = m.group(1), m.group(2)
            df = self.spark.table(old)
            df.createOrReplaceTempView(new)
            self.spark.catalog.dropTempView(old)
            return None
        m = re.match(r"ALTER\s+VIEW\s+(\w+)\s+AS\s+(.*)$", stmt, re.I | re.S)
        if m:
            self.sql_query(m.group(2)).createOrReplaceTempView(m.group(1))
            return None
        m = re.match(r"ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*$", stmt, re.I)
        if m:
            old, new = m.group(1), m.group(2)
            tbl = self._tables.pop(old, None)
            if tbl is None:
                raise ValueError(f"unknown table: {old}")
            tbl.name = new
            self._tables[new] = tbl
            self.spark.catalog.dropTempView(old)
            self._create_table_view_refresh(tbl)
            return None
        m = re.match(r"ALTER\s+TABLE\s+(\w+)\s+SET\s*\((.*)\)\s*$", stmt, re.I | re.S)
        if m:
            tbl = self._tables.get(m.group(1))
            if tbl is None:
                raise ValueError(f"unknown table: {m.group(1)}")
            tbl.options.update(dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(2))))
            self._create_table_view_refresh(tbl)
            return None
        raise ValueError(f"unparseable ALTER TABLE: {stmt[:120]}")

    def _create_function(self, stmt: str) -> None:
        """CREATE [TEMPORARY] FUNCTION name AS 'target' (SqlCreateFunction —
        flink-sql-parser/.../ddl/SqlCreateFunction.java; the target plays the
        ScalarFunction-class role, ScalarFunction.java:94). The target is a
        dotted Python path; the resolved object is registered for SQL use:

        - a plain callable → ``spark.udf.register`` (result type from its
          ``returns`` attribute, default ``string``) — the PyFlink
          general-udf analog, Arrow-batched by Spark;
        - an object with a ``SQL_FUNCTION`` attribute holding
          ``(params_ddl, returns_ddl, body_expr)`` → a Spark SQL scalar
          function (``CREATE FUNCTION … RETURNS … RETURN expr``), staying
          fully JVM-side."""
        m = re.match(
            r"CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+'([^']+)'",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"unparseable CREATE FUNCTION: {stmt[:120]}")
        name, path = m.group(1), m.group(2)
        import importlib

        mod_name, _, attr = path.rpartition(".")
        obj = getattr(importlib.import_module(mod_name), attr)
        spec = getattr(obj, "SQL_FUNCTION", None)
        if spec is not None:
            params, returns, body = spec
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                f"RETURNS {returns} RETURN {body}"
            )
        else:
            self.spark.udf.register(name, obj, getattr(obj, "returns", "string"))
        return None

    def _create_table(self, ddl: str) -> None:
        meta = parse_create_table(ddl)
        if meta.get("like"):
            meta = self._merge_like(meta)
        tbl = CatalogTable(
            name=meta["name"],
            schema_ddl=meta["schema_ddl"],
            options=meta["options"],
            partition_by=meta["partition_by"],
            watermark=meta["watermark"],
            computed=meta["computed"],
            metadata=meta.get("metadata"),
        )
        self._tables[tbl.name] = tbl
        cfg = reader_config(tbl.options)
        if cfg["format"] == "rate":
            # BOUNDED datagen (DataGenTableSource.java:63 isBounded when
            # number-of-rows is set; ANY finite sequence field ends the
            # source when its generator exhausts) materializes as a batch
            # view; unbounded datagen stays streaming-only via
            # stream_table().
            self._materialize_datagen(tbl, cfg)
            return None
        if cfg["format"] == "kafka":
            return None  # needs a broker; use stream_table() when available
        import os

        if cfg["path"] and not os.path.exists(cfg["path"].removeprefix("file:")):
            # sink-only table so far: the view is registered after the first
            # INSERT materializes the path (_create_table_view_refresh)
            return None
        self._create_table_view_refresh(tbl)
        return None

    def _merge_like(self, meta: dict) -> dict:
        """CREATE TABLE … LIKE merge (FLIP-110): combine the derived
        declaration with the base catalog table under the reference's
        per-feature strategies (SqlTableLike.java:104-185; defaults from
        MergeTableLikeUtil.java:72-80 — OPTIONS overwrites, everything else
        includes). EXCLUDING drops the base feature; INCLUDING errors on a
        conflicting redefinition; OVERWRITING lets the derived side win."""
        like = meta["like"]
        base = self._tables.get(like["base"])
        if base is None:
            raise ValueError(f"LIKE base table not found in catalog: {like['base']}")
        strat = {
            "OPTIONS": "OVERWRITING",
            "WATERMARKS": "INCLUDING",
            "GENERATED": "INCLUDING",
            "PARTITIONS": "INCLUDING",
            "CONSTRAINTS": "INCLUDING",
        }
        for s_, f_ in like["options"]:
            if f_ == "ALL":
                strat = {k: s_ for k in strat}  # OVERWRITING ALL rejected at parse
            else:
                strat[f_] = s_

        out = dict(meta)
        out["schema_ddl"] = ", ".join(p for p in (base.schema_ddl, meta["schema_ddl"]) if p)

        st = strat["OPTIONS"]
        if st == "EXCLUDING":
            pass  # derived options only
        elif st == "OVERWRITING":
            out["options"] = {**base.options, **meta["options"]}
        else:  # INCLUDING: conflicting redefinition is an error (MergeTableLikeUtil)
            clash = {
                k for k, v in meta["options"].items() if base.options.get(k, v) != v
            }
            if clash:
                raise ValueError(
                    f"INCLUDING OPTIONS forbids overriding base options: {sorted(clash)}"
                )
            out["options"] = {**base.options, **meta["options"]}

        st = strat["WATERMARKS"]
        if st == "EXCLUDING":
            pass  # derived watermark only
        elif meta["watermark"] and base.watermark and st == "INCLUDING":
            raise ValueError("INCLUDING WATERMARKS forbids redefining the watermark")
        else:
            out["watermark"] = meta["watermark"] or base.watermark

        st = strat["GENERATED"]
        if st == "EXCLUDING":
            pass
        else:
            base_c = dict(base.computed or [])
            mine = dict(meta["computed"] or [])
            dup = set(base_c) & set(mine)
            if dup and st == "INCLUDING":
                raise ValueError(
                    f"INCLUDING GENERATED forbids redefining computed columns: {sorted(dup)}"
                )
            merged = {**base_c, **mine}
            out["computed"] = list(merged.items())
            # metadata columns merge under the same GENERATED strategy
            # (MergeTableLikeUtil groups computed + metadata columns)
            base_m = {m_[0]: m_ for m_ in (base.metadata or [])}
            mine_m = {m_[0]: m_ for m_ in (meta.get("metadata") or [])}
            dupm = set(base_m) & set(mine_m)
            if dupm and st == "INCLUDING":
                raise ValueError(
                    f"INCLUDING GENERATED forbids redefining metadata columns: {sorted(dupm)}"
                )
            out["metadata"] = list({**base_m, **mine_m}.values())

        st = strat["PARTITIONS"]
        if st == "EXCLUDING":
            pass
        elif meta["partition_by"] and base.partition_by and st == "INCLUDING":
            raise ValueError("INCLUDING PARTITIONS forbids redefining partitions")
        else:
            out["partition_by"] = meta["partition_by"] or base.partition_by
        return out

    def _insert_into(self, stmt: str) -> None:
        import re

        from pyspark.sql import functions as F

        m = re.match(
            r"INSERT\s+(INTO|OVERWRITE)\s+(\w+)\s*"
            r"(?:PARTITION\s*\(([^)]*)\)\s*)?(.*)",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unparseable INSERT: {stmt[:120]}")
        mode = "overwrite" if m.group(1).upper() == "OVERWRITE" else "append"
        sink_name, part_clause, query = m.group(2), m.group(3), m.group(4)
        df = self.sql_query(query)
        tbl = self._tables.get(sink_name)
        if tbl is None:
            raise ValueError(f"unknown sink table: {sink_name}")
        # static partition spec (FLIP-63 / filesystem connector INSERT
        # OVERWRITE t PARTITION (k='v'): the SELECT omits the static
        # columns; they append as literals, and overwrite touches ONLY the
        # written partitions — Spark's dynamic partitionOverwriteMode is
        # exactly the reference's replace-touched-partitions behavior)
        static: dict[str, str] = {}
        if part_clause:
            for kv in part_clause.split(","):
                k, _, v = kv.partition("=")
                k, v = k.strip(), v.strip().strip("'\"")
                if k not in (tbl.partition_by or []):
                    raise ValueError(
                        f"static partition column {k!r} is not a partition "
                        f"column of {sink_name} ({tbl.partition_by})"
                    )
                static[k] = v
            for k, v in static.items():
                df = df.withColumn(k, F.lit(v))
        cfg = writer_config(tbl.options)
        if cfg["format"] == "console":
            df.show(truncate=False)  # print connector (DataStream.print():974)
            return None
        if cfg["format"] == "noop":
            df.write.format("noop").mode("overwrite").save()
            return None
        if cfg["format"] == "avro":
            # native spark-avro writer when present, pure-Python OCF writer
            # otherwise — INSERT INTO an avro table works in both envs
            from flink_1_12_0_src_spark.sources.avro_py import save_avro

            save_avro(
                df,
                cfg["path"],
                mode=mode,
                partition_by=tbl.partition_by or None,
                options=cfg["options"],
            )
        else:
            writer = df.write.format(cfg["format"]).mode(mode)
            if mode == "overwrite" and tbl.partition_by:
                writer = writer.option("partitionOverwriteMode", "dynamic")
            for k, v in cfg["options"].items():
                writer = writer.option(k, v)
            if tbl.partition_by:
                writer = writer.partitionBy(*tbl.partition_by)
            writer.save(cfg["path"])
        if cfg.get("auto_compaction"):
            self._compact_sink(tbl, cfg)
        # partition-commit success-file policy (FileSystemOptions.java:
        # 157-198, sink.partition-commit.policy.kind = 'success-file'): mark
        # every written partition directory committed. Spark's _SUCCESS only
        # lands at the table root, so the per-partition markers (and any
        # custom marker name) are written here — the PartitionCommitPolicy
        # downstream consumers poll for.
        if "success-file" in tbl.options.get("sink.partition-commit.policy.kind", ""):
            import os

            marker = tbl.options.get(
                "sink.partition-commit.success-file.name", "_SUCCESS"
            )
            root = cfg["path"].removeprefix("file:")
            for d, _s, files in os.walk(root):
                if d != root and any(not f.startswith(("_", ".")) for f in files):
                    open(os.path.join(d, marker), "w").close()
        # refresh the readable view over the sink path
        self._create_table_view_refresh(tbl)
        return None

    def _compact_sink(self, tbl: CatalogTable, cfg: dict) -> None:
        """Small-file compaction (FileSystemOptions.java:204-214
        AUTO_COMPACTION / COMPACTION_FILE_SIZE, 1.12's streaming-sink
        CompactOperator): rewrite each leaf data directory (the table root,
        or every partition directory) into ceil(bytes / compaction.file-size)
        files. The rewrite stages into a sibling directory and swaps in via
        two renames; the original survives under a recovery suffix until the
        swap completes, and a crash between the renames is healed on the
        next compaction pass (the recovery pre-pass below restores the
        stranded directory), approximating the reference's
        invisible-temporary-files property on a non-atomic filesystem."""
        import math
        import os
        import shutil

        root = cfg["path"].removeprefix("file:")
        target = max(1, cfg.get("compaction_file_size") or 1)
        # recovery pre-pass FIRST, over a materialized listing (renaming /
        # deleting while iterating the live os.walk generator skips or
        # errors on just-renamed paths): a crash between the two renames of
        # an earlier compaction leaves the data only under <dir>__compact_old.
        # The table ROOT's own stranded twin is a sibling of root — outside
        # any walk of root — so probe it explicitly (the unpartitioned case,
        # where the leaf dir is root itself).
        candidates = [(root + "__compact_old", None, None)] if os.path.isdir(
            root + "__compact_old"
        ) else []
        for d, _s, _files in candidates + list(os.walk(root)):
            if d.endswith("__compact_old"):
                orig = d[: -len("__compact_old")]
                if not os.path.exists(orig):
                    os.rename(d, orig)
                else:
                    shutil.rmtree(d)
        # leaf dirs AFTER recovery, so a just-restored directory is
        # compacted by THIS pass, not the next one
        leaf_dirs = sorted(
            {
                d
                for d, _s, files in os.walk(root)
                if any(not f.startswith(("_", ".")) for f in files)
            }
        )
        for d in leaf_dirs:
            data = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
            total = sum(os.path.getsize(os.path.join(d, f)) for f in data)
            n = max(1, math.ceil(total / target))
            if n >= len(data):
                continue  # already at or below the target file count
            tmp = d + "__compact_tmp"
            if cfg["format"] == "avro":
                from flink_1_12_0_src_spark.sources.avro_py import load_avro, save_avro

                save_avro(
                    load_avro(self.spark, d, options=cfg["options"]).repartition(n),
                    tmp,
                    mode="append",
                    options=cfg["options"],
                )
            else:
                (
                    self.spark.read.format(cfg["format"])
                    .options(**cfg["options"])
                    .load(d)
                    .repartition(n)
                    .write.format(cfg["format"])
                    .options(**cfg["options"])
                    .mode("overwrite")
                    .save(tmp)
                )
            swap = d + "__compact_old"
            os.rename(d, swap)
            os.rename(tmp, d)
            shutil.rmtree(swap)

    @staticmethod
    def _datagen_cols(schema_ddl: str, fields: dict) -> list[tuple[str, str, dict]]:
        """Parse the DDL's flat column list and pair each column with its
        fields.<name>.* generator spec (comma split is paren-aware so
        DECIMAL(p,s) survives)."""
        import re as _re

        out = []
        for c in _re.split(r",\s*(?![^()]*\))", schema_ddl or ""):
            if not c.strip():
                continue
            name, typ = c.strip().split(None, 1)
            out.append((name, typ, fields.get(name, {})))
        return out

    @staticmethod
    def _datagen_projection(cols: list[tuple[str, str, dict]], idx: str):
        """One Column per declared field, driven by the row index ``idx``
        (spark.range's ``id`` for batch; the rate source's ``value`` for
        streams): sequence → start + idx (SequenceGeneratorVisitor,
        deterministic); random → rand()-derived honoring min/max/length
        (RandomGeneratorVisitor, nondeterministic by design)."""
        from pyspark.sql import functions as F

        out = []
        for name, typ, spec in cols:
            if spec.get("kind") == "sequence":
                expr = F.expr(f"CAST({int(spec['start'])} + {idx} AS {typ})")
            elif typ.upper().startswith(("CHAR", "VARCHAR", "STRING")):
                ln = int(spec.get("length", 100))
                expr = F.expr(
                    f"substring(repeat(md5(cast(rand() as string)), "
                    f"{ln // 32 + 1}), 1, {ln})"
                ).cast("string")
            else:
                lo, hi = spec.get("min"), spec.get("max")
                if lo is not None or hi is not None:
                    lo_v, hi_v = float(lo or 0), float(hi or 32767)
                    expr = F.expr(f"CAST({lo_v} + rand() * ({hi_v} - {lo_v}) AS {typ})")
                else:
                    expr = F.expr(f"CAST(rand() * 32767 AS {typ})")
            out.append(expr.alias(name))
        return out

    def _materialize_datagen(self, tbl: CatalogTable, cfg: dict) -> bool:
        """Bounded datagen table → batch view (DataGenTableSourceFactory.java:
        55-145 + SequenceGeneratorVisitor: ``fields.<f>.kind = 'sequence'``
        emits start..end in order; DataGenTableSource.java:63 bounds the
        source when ``number-of-rows`` is set, and ANY finite sequence field
        ends the whole source when its generator exhausts). The view is
        ``spark.range(n)`` projected per declared column. Returns False (no
        view) for unbounded tables — number-of-rows absent and no sequence
        field — which replay via stream_table()."""
        cols = self._datagen_cols(tbl.schema_ddl, cfg.get("datagen_fields") or {})
        seq_lens = [
            int(s["end"]) - int(s["start"]) + 1
            for _n, _t, s in cols
            if s.get("kind") == "sequence"
        ]
        n_rows = cfg.get("number_of_rows")
        if n_rows is None and not seq_lens:
            return False  # unbounded: streaming-only
        bounds = seq_lens + ([int(n_rows)] if n_rows is not None else [])
        n = min(bounds)
        self.spark.range(n).select(
            *self._datagen_projection(cols, "id")
        ).createOrReplaceTempView(tbl.name)
        return True

    def _load_table_df(self, cfg: dict, tbl: CatalogTable) -> DataFrame:
        """Batch scan for a connector table: format dispatch (avro routes
        through sources/avro_py.load_avro — native spark-avro when the
        package is on the classpath, the in-repo pure-Python OCF reader
        otherwise), then FLIP-107 metadata and computed columns. Shared by
        the OPTIONS-hint path and the view refresh so the dispatch cannot
        drift between the two sites."""
        if cfg["format"] == "avro":
            from flink_1_12_0_src_spark.sources.avro_py import load_avro

            df = load_avro(
                self.spark,
                cfg["path"],
                with_metadata=bool(tbl.metadata),
                options=cfg["options"],
            )
        else:
            reader = self.spark.read.format(cfg["format"])
            # text formats always scan with the declared schema; self-
            # describing ones keep their file schema, except over a directory
            # with no data yet, which then reads as an empty table instead of
            # failing schema inference
            if tbl.schema_ddl and (
                cfg["format"] in ("csv", "json") or _holds_no_data_files(cfg["path"])
            ):
                reader = reader.schema(tbl.schema_ddl)
            for k, v in cfg["options"].items():
                reader = reader.option(k, v)
            df = reader.load(cfg["path"])
        df = self._apply_metadata(df, tbl, cfg["format"])
        if "_metadata" in df.columns:
            # the avro fallback materializes _metadata as a visible struct
            # (native file sources keep theirs hidden) — drop it once the
            # declared METADATA columns are resolved
            df = df.drop("_metadata")
        return self._apply_computed(df, tbl)

    def _create_table_view_refresh(self, tbl: CatalogTable) -> None:
        cfg = reader_config(tbl.options)
        self._load_table_df(cfg, tbl).createOrReplaceTempView(tbl.name)

    def _apply_metadata(self, df: DataFrame, tbl: CatalogTable, fmt: str) -> DataFrame:
        """Append FLIP-107 metadata columns (SupportsReadingMetadata): each
        declared ``name TYPE METADATA [FROM 'key']`` resolves the connector's
        metadata key at read time and casts to the declared type. VIRTUAL
        columns behave identically on reads (the flag only excludes them
        from the insert schema, DynamicTableSource docs)."""
        from pyspark.sql import functions as F

        for name, typ, key, _virtual in tbl.metadata or []:
            if fmt == "kafka":
                if key not in _KAFKA_METADATA_KEYS:
                    raise ValueError(f"unknown kafka metadata key: {key}")
                # Spark's kafka source columns: topic, partition, offset,
                # timestamp, timestampType (camelCase, not snake_case)
                expr = "timestampType" if key == "timestamp-type" else key
            elif key in _FS_METADATA_KEYS:
                expr = _FS_METADATA_KEYS[key]
            else:
                raise ValueError(
                    f"unsupported metadata key for {fmt} connector: {key!r} "
                    f"(filesystem keys: {sorted(_FS_METADATA_KEYS)})"
                )
            df = df.withColumn(name, F.expr(expr).cast(typ))
        return df

    def _apply_computed(self, df: DataFrame, tbl: CatalogTable) -> DataFrame:
        """Append the DDL's computed columns (generated at read time, like
        Flink's computed-column projection ahead of the scan's consumers)."""
        from pyspark.sql import functions as F

        for cname, expr in tbl.computed or []:
            df = df.withColumn(cname, F.expr(translate_query(expr)))
        return df


class StatementSet:
    """Buffered multi-INSERT execution (StatementSet.java addInsertSql /
    execute): statements accumulate until ``execute()``, which runs them in
    order and clears the buffer, returning the number executed."""

    def __init__(self, env: TableEnvironment):
        self._env = env
        self._stmts: list[str] = []

    def add_insert_sql(self, stmt: str) -> "StatementSet":
        head = stmt.strip().split(None, 1)[0].upper()
        if head != "INSERT":
            raise ValueError("StatementSet accepts INSERT statements only")
        self._stmts.append(stmt)
        return self

    def execute(self) -> int:
        n = 0
        while self._stmts:
            # run-then-pop: a failing INSERT stays at the head with the
            # rest of the buffer intact, so the caller can fix and retry
            self._env.execute_sql(self._stmts[0])
            self._stmts.pop(0)
            n += 1
        return n
