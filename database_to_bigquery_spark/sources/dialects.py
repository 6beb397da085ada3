"""Source-engine dialect surface: MySQL, PostgreSQL, MSSQL, Derby.

The reference's README claims "Transfer Data from Sources (MYSQL,
MSSQL, PostgreSQL) to BigQuery" (reference README.md:2) but its code
only ever builds a MySQL engine (reference mysql_operations.py:8-12).
This module completes the claimed surface for the Spark engine: one
constant block per dialect — JDBC URL shape, driver class, and the
catalog query equivalent to the reference's ``SHOW FULL TABLES WHERE
Table_type = 'BASE TABLE'`` (reference mysql_operations.py:50). This
is the only home of that SQL and of the URL shapes:
``discover_tables_jdbc`` takes its catalog query from the URL's
dialect and ``jdbc_spec_from_credentials`` builds its URL here, so
both work against any of the four engines by swapping ONE object.
The Derby dialect is the live test seam (Derby ships inside pyspark's
jars; the others need their driver jar on the executor classpath,
same mechanism).

Scale note: everything here is metadata/string assembly — the
partitioned-read machinery in jdbc.py (numPartitions range queries,
pushed predicates) is dialect-independent because Spark's JDBC source
speaks each engine's SQL through the driver.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    """Per-engine connection + catalog constants.

    ``catalog_query`` takes a ``{schema}`` placeholder where the
    engine scopes tables by schema; engines that scope by database
    (MySQL) or connection (Derby) ignore or repurpose it.
    """

    name: str
    driver: str
    default_port: int
    #: ``url_template.format(host=..., port=..., database=...)``
    url_template: str
    #: pushed verbatim to the source via the ``query`` reader option;
    #: must yield one lower-cased ``table_name`` column of base tables
    catalog_query: str
    #: namespace an unqualified table lands in (catalog lookups);
    #: MySQL scopes by the connection's database instead
    default_schema: str = ""
    #: how the engine stores UNQUOTED identifiers: "upper" (Derby,
    #: Oracle), "lower" (PostgreSQL), "preserve" (MySQL, MSSQL)
    identifier_fold: str = "preserve"

    def stored_identifier(self, name: str) -> str:
        """The catalog-stored form of an unquoted identifier — what a
        DSv2 catalog lookup must ask for after ``df.write.jdbc``
        created the table unquoted."""
        if self.identifier_fold == "upper":
            return name.upper()
        if self.identifier_fold == "lower":
            return name.lower()
        return name

    def jdbc_url(self, host: str, database: str, port: int | None = None) -> str:
        """Credentials deliberately NOT in the URL — they travel as
        reader options so the Spark UI/event-log URL stays clean."""
        return self.url_template.format(
            host=host, port=port if port is not None else self.default_port,
            database=database,
        )


MYSQL = Dialect(
    name="mysql",
    driver="com.mysql.cj.jdbc.Driver",
    default_port=3306,
    url_template="jdbc:mysql://{host}:{port}/{database}",
    # MySQL schema == database; table_schema scopes to it
    catalog_query=(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_type = 'BASE TABLE' AND table_schema = '{schema}'"
    ),
    identifier_fold="preserve",
)

POSTGRESQL = Dialect(
    name="postgresql",
    driver="org.postgresql.Driver",
    default_port=5432,
    url_template="jdbc:postgresql://{host}:{port}/{database}",
    # default namespace is 'public'; pass schema='public' unless the
    # deployment uses a dedicated schema
    catalog_query=(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_type = 'BASE TABLE' AND table_schema = '{schema}'"
    ),
    default_schema="public",
    identifier_fold="lower",
)

MSSQL = Dialect(
    name="mssql",
    driver="com.microsoft.sqlserver.jdbc.SQLServerDriver",
    default_port=1433,
    # SQL Server selects the database via a URL property, not a path
    url_template="jdbc:sqlserver://{host}:{port};databaseName={database}",
    # sys.tables lists user base tables only (no views, no system
    # tables) — the direct analogue of SHOW FULL TABLES ... 'BASE
    # TABLE'; LOWER() normalizes for the driver-side case-insensitive
    # allowlist intersection. {schema} scopes via schema_id.
    catalog_query=(
        "SELECT LOWER(t.name) AS table_name FROM sys.tables t "
        "JOIN sys.schemas s ON s.schema_id = t.schema_id "
        "WHERE s.name = '{schema}'"
    ),
    default_schema="dbo",
    identifier_fold="preserve",
)

DERBY = Dialect(
    name="derby",
    driver="org.apache.derby.jdbc.EmbeddedDriver",
    default_port=1527,  # network server; embedded URLs ignore host/port
    url_template="jdbc:derby:{database};create=true",
    catalog_query=(
        'SELECT LOWER(CAST(tablename AS VARCHAR(128))) AS "table_name" '
        "FROM SYS.SYSTABLES WHERE tabletype = 'T'"
    ),
    default_schema="APP",
    identifier_fold="upper",
)

DIALECTS: dict[str, Dialect] = {
    d.name: d for d in (MYSQL, POSTGRESQL, MSSQL, DERBY)
}


def get_dialect(name: str) -> Dialect:
    try:
        return DIALECTS[name.lower()]
    except KeyError:
        raise ValueError(
            f"unknown dialect {name!r}; choose from {sorted(DIALECTS)}"
        ) from None


def dialect_for_url(url: str) -> Dialect:
    """Resolve the dialect from a JDBC URL's subprotocol
    (``jdbc:derby:...`` → DERBY). A URL naming an engine this module
    does not model (``jdbc:oracle:...``, ``jdbc:h2:...``, or no
    ``jdbc:`` prefix at all) raises ValueError: catalog discovery and
    JdbcSink's audit count both need the engine's catalog SQL and
    identifier rules, and another engine's would read the wrong
    table."""
    sub = url[len("jdbc:") :].split(":", 1)[0].lower() if url.startswith("jdbc:") else ""
    dialect = DIALECTS.get("mssql" if sub == "sqlserver" else sub)
    if dialect is None:
        raise ValueError(
            f"no dialect models JDBC URL {url!r}; supported engines: "
            "mysql, postgresql, sqlserver, derby"
        )
    return dialect
