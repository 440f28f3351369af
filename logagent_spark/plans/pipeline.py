"""Pipeline compiler: PipelineSpec -> one DataFrame DAG.

The reference executes collector -> parser -> [global validators] ->
rewrites -> fan-out to handlers as one fused closure per row
(/root/reference/agent/task/task.go:43-72, 378-392) with three distinct
drop semantics (SURVEY.md §2.4, §2.6):

  * processor error (jsonify parse error, mapping miss) — row dropped from
    ALL sinks, logged (task.go:104-111, 142-147);
  * global validator failure — same;
  * per-handler validator failure — row silently skipped for THAT sink only
    (handler.go:208-215).

Spark-first re-expression:

  * The fused closure is a chain of Column projections — Catalyst's
    whole-stage codegen IS the fusion engine; we only build expressions.
  * The parser, each global validator and each rewrite compile to ONE
    step type (``CompiledStep``: projections, schema updates, an optional
    ``failed`` predicate and its reason label); a lookup rewrite yields
    the same step beside its join. Each drop reason is named once, by the
    step that can emit it.
  * Drop accounting is a single ``_drop_reason`` column: the FIRST failing
    step's reason in config order (``coalesce`` of the ``when(failed,
    reason)`` columns stashed as the chain is built) — one pass, no
    second scan, no UDF. ``TransformResult.reasons`` lists every label in
    that order, including those of steps that compile to a no-op against
    the schema, so per-reason counters fit in one ``observe``.
  * The handler fan-out is a MULTIPLEX: every row computes an array of
    ``struct(sink, rendered)`` for the sinks whose validator gate passes,
    then one ``explode``. One scan, one write job (``partitionBy(sink)``),
    regardless of sink count — at 100 TB this beats N filtered scans by
    N× on input I/O.
  * Per-handler counters become ``groupBy(sink, lang, time_bucket).count()``
    over the exploded frame; dead letters are counted by reason.

Scale notes: the multiplex plan contains NO shuffle until the final
aggregation (narrow projections + explode); the write is shuffle-free.
Skew in the partitionBy(sink) write is bounded by sink count; host-domain
skew on later joins is handled by salting (see plans/skew.py helpers).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from logagent_spark.config import PipelineSpec
from logagent_spark.functions import CompiledStep, first_reason, type_by_name
from logagent_spark.operators.parsers import compile_parser
from logagent_spark.operators.rewrites import compile_rewrite
from logagent_spark.operators.template import compile_template
from logagent_spark.operators.validators import (
    compile_gate,
    compile_global_validators,
)

Schema = dict[str, T.DataType]

DROP_COL = "_drop_reason"
SINK_COL = "sink"
RENDERED_COL = "rendered"
DEAD_SINK = "_dead_letter"


@dataclass
class TransformResult:
    frame: DataFrame          # all post-rewrite columns + _drop_reason
    schema: Schema            # logical schema of the data columns
    reasons: list[str] = field(default_factory=list)  # every drop label


class CompiledPipeline:
    """Compile once, apply to any DataFrame with a `message` column."""

    def __init__(
        self,
        spec: PipelineSpec,
        *,
        regex_strategy: str = "native",
    ) -> None:
        spec.validate()
        self.spec = spec
        self.regex_strategy = regex_strategy

    # ------------------------------------------------------------------
    # stage 1: parse -> validate -> rewrite, with drop accounting
    # ------------------------------------------------------------------
    def transform(self, df: DataFrame) -> TransformResult:
        schema: Schema = {f.name: f.dataType for f in df.schema.fields}
        reasons: list[str] = []
        reason_cols: list[str] = []

        def apply(step: CompiledStep) -> None:
            nonlocal df
            if step.reason is not None:
                reasons.append(step.reason)
            if step.failed is not None:
                # materialize the reason at THIS point of the chain —
                # before the step's own projections overwrite anything,
                # so neither they nor later rewrites can perturb it
                name = f"_reason_{len(reason_cols)}"
                df = df.withColumn(
                    name, F.when(step.failed, F.lit(step.reason))
                )
                reason_cols.append(name)
            for name, expr in step.columns:
                df = df.drop(name) if expr is None else df.withColumn(name, expr)
            schema.update(step.schema_updates)

        # parser (task.go:201-254)
        apply(compile_parser(
            self.spec.parser, schema, regex_strategy=self.regex_strategy
        ))
        # global validators run BEFORE rewrites (task.go:63-65); the
        # configured overflow-map name rides along so validators on
        # undeclared columns resolve against it whatever it is called
        for step in compile_global_validators(
            self.spec.validators, schema,
            attrs_col=self.spec.parser.attrs or None,
        ):
            apply(step)
        # rewrites in config order (task.go:256-376)
        for rw in self.spec.rewrites:
            if rw.mode == "lookup":
                df, step = _apply_lookup(df, schema, rw.lookup)
                apply(step)
            else:
                apply(compile_rewrite(rw, schema))

        df = df.withColumn(
            DROP_COL, first_reason(*[F.col(c) for c in reason_cols])
        )
        df = df.drop(*reason_cols)
        return TransformResult(frame=df, schema=schema, reasons=reasons)

    # ------------------------------------------------------------------
    # stage 2: router / fan-out
    # ------------------------------------------------------------------
    def _sink_structs(self, schema: Schema) -> Column:
        """Matching-sink structs per row: (sink, _ok) only — the rendered
        template is computed AFTER the explode (`_rendered_by_sink`), so
        plans that never read `rendered` (sink_counts and friends) prune
        the whole template concat tree instead of evaluating every
        handler's template per input row."""
        structs = []
        for i, h in enumerate(self.spec.handlers):
            gate = compile_gate(
                h.validators, schema,
                attrs_col=self.spec.parser.attrs or None,
            )
            structs.append(
                F.struct(
                    F.lit(h.sink_name(i)).alias(SINK_COL),
                    F.coalesce(gate, F.lit(False)).alias("_ok"),
                )
            )
        if not structs:
            raise ValueError("pipeline has no handlers")
        return F.filter(F.array(*structs), lambda s: s["_ok"])

    def _rendered_by_sink(self, schema: Schema, include_dead: bool) -> Column:
        """Post-explode `rendered`: one when-chain keyed by the (unique —
        spec-validated) sink name, so each exploded row evaluates exactly
        its own handler's template. Dead-letter rows carry their drop
        reason, exactly as the pre-r7 in-struct form did."""
        chain = None
        for i, h in enumerate(self.spec.handlers):
            if h.mode == "database":
                rendered = F.lit(None).cast(T.StringType())
            else:
                rendered = compile_template(h.template, schema)
            cond = F.col(SINK_COL) == F.lit(h.sink_name(i))
            chain = (
                F.when(cond, rendered) if chain is None
                else chain.when(cond, rendered)
            )
        if include_dead:
            dead = F.col(DROP_COL).isNotNull() & (
                F.col(SINK_COL) == F.lit(DEAD_SINK)
            )
            chain = F.when(dead, F.col(DROP_COL)).otherwise(chain)
        return chain

    def _template_columns(self, schema: Schema) -> list[str]:
        """Data columns the handlers' templates read (the ones that must
        survive the explode so `_rendered_by_sink` can reference them)."""
        from logagent_spark.functions import is_string
        from logagent_spark.operators.template import split_template

        needed: list[str] = []

        def add(key: str) -> None:
            dt = schema.get(key)
            if dt is not None and is_string(dt) and key not in needed:
                needed.append(key)

        for h in self.spec.handlers:
            if h.mode == "database":
                continue
            if not h.template:
                add("message")
                continue
            for _text, key in split_template(h.template):
                if key is not None:
                    add(key)
        return needed

    def _exploded(
        self,
        result: TransformResult,
        keep: list[str] | None,
        include_dead: bool,
    ) -> DataFrame:
        """ONE scan for routing and (optionally) the dead-letter log: a
        dropped row contributes a single `_dead_letter` struct carrying
        its reason, a surviving row its matching-sink structs. A
        filter+union formulation would scan the source twice — at 100 TB
        that is a 2× input read for zero benefit."""
        schema = result.schema
        matches = self._sink_structs(schema)
        if include_dead:
            dead_struct = F.struct(
                F.lit(DEAD_SINK).alias(SINK_COL),
                F.lit(True).alias("_ok"),
            )
            arr = F.when(
                F.col(DROP_COL).isNotNull(), F.array(dead_struct)
            ).otherwise(matches)
        else:
            arr = F.when(F.col(DROP_COL).isNull(), matches)
        cols = keep if keep is not None else list(schema)
        # template inputs (and the drop reason, for the dead-letter
        # branch) ride through the Generate so `rendered` can be computed
        # per exploded row; when a downstream plan never reads `rendered`
        # (sink_counts), column pruning drops the when-chain AND these
        # carried columns — the template concat is never evaluated.
        extras = [
            c for c in self._template_columns(schema) if c not in cols
        ]
        if include_dead:
            extras.append(DROP_COL)
        return (
            result.frame.withColumn("_sinks", arr)
            .select(*cols, *extras, F.explode("_sinks").alias("_s"))
            .select(
                F.col(f"_s.{SINK_COL}").alias(SINK_COL),
                *extras,
                *cols,
            )
            .select(
                SINK_COL,
                self._rendered_by_sink(schema, include_dead)
                .alias(RENDERED_COL),
                *cols,
            )
        )

    def routed(
        self, result: TransformResult, keep: list[str] | None = None
    ) -> DataFrame:
        """Multiplex fan-out: one row per (surviving row × matching sink).

        Output columns: ``sink`` (string), ``rendered`` (template output for
        text sinks, NULL for table sinks), plus all data columns (table
        sinks project their configured subset at write time).
        """
        return self._exploded(result, keep, include_dead=False)

    def multiplexed(
        self, result: TransformResult, keep: list[str] | None = None
    ) -> DataFrame:
        """routed ∪ dead-letter in ONE frame: dropped rows appear under the
        reserved sink ``_dead_letter`` with their drop reason in
        ``rendered``. One write action then persists sinks AND the error
        log (the reference logs failed rows, task.go:104-111), and one
        ``observe`` on this frame yields every counter without a second
        scan."""
        return self._exploded(result, keep, include_dead=True)

    def sink_names(self) -> list[str]:
        return [h.sink_name(i) for i, h in enumerate(self.spec.handlers)]

    def dead_letter(self, result: TransformResult) -> DataFrame:
        """Rows dropped by parse errors / global validators / mapping
        misses, with their first-failure reason (the reference logs these,
        task.go:104-111; we keep them queryable)."""
        return result.frame.filter(F.col(DROP_COL).isNotNull())

    # ------------------------------------------------------------------
    # stage 3: aggregation (BASELINE: per-handler counters as groupBy)
    # ------------------------------------------------------------------
    @staticmethod
    def sink_counts(
        routed: DataFrame,
        *,
        lang_col: str | None = None,
        ts_col: str | None = None,
        bucket: str = "hour",
    ) -> DataFrame:
        """groupBy(sink[, lang][, time_bucket]).count() — reproduces the
        reference's per-handler counters (SURVEY.md §2.7) as a hash
        aggregate with map-side partial aggregation (free in Spark)."""
        keys: list[Column] = [F.col(SINK_COL)]
        if lang_col:
            keys.append(F.col(lang_col))
        if ts_col:
            keys.append(F.date_trunc(bucket, F.col(ts_col)).alias("time_bucket"))
        return routed.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))

    @staticmethod
    def drop_counts(dead: DataFrame) -> DataFrame:
        return dead.groupBy(F.col(DROP_COL).alias("reason")).agg(
            F.count(F.lit(1)).alias("n")
        )

    # ------------------------------------------------------------------
    # stage 4: sinks
    # ------------------------------------------------------------------
    def write_sinks(self, routed: DataFrame, out_dir: str) -> None:
        """Write every sink in one shuffle-free job partitioned by sink —
        ``{out_dir}/sink=<name>/``, overwriting ``out_dir``. Table sinks
        store their configured columns; text sinks store the rendered
        line. The uniform parquet schema is the union (columnar storage
        makes unused columns cheap).

        The write coalesces to 2 tasks per core (no shuffle; a no-op
        when the frame has fewer partitions): one task per scan split
        means one commit + one parquet file per task per sink, and that
        per-task/per-file overhead is a parallelism-independent floor
        the scaling ratio pays at every cluster size (measured at
        local[32]/local[8]: efficiency 0.877 vs 0.805 in one interleaved
        window; one wave has no straggler headroom and measured worse).
        """
        spark = routed.sparkSession
        routed = routed.coalesce(2 * spark.sparkContext.defaultParallelism)
        routed.write.mode("overwrite").partitionBy(SINK_COL).parquet(out_dir)


def _apply_lookup(
    df: DataFrame, schema: Schema, lk: dict[str, Any]
) -> tuple[DataFrame, CompiledStep]:
    """Broadcast-join enrichment (the north-star generalization of the
    `mapping` rewrite — agent/task/task.go:282-300 re-expressed as a
    broadcast hash join; never a shuffle on the big side): the joined
    frame, and the step carrying the output columns' types and, with
    ``on_miss: drop``, the miss predicate."""
    key = lk["key"]
    out_cols: dict[str, str] = dict(lk["output"])  # newcol -> type name

    spark = df.sparkSession
    if "table" in lk:
        # dedupe driver-side: a dropDuplicates here would put a
        # Sort+Exchange+SortAggregate sub-job under the broadcast
        # build of EVERY plan (and every streaming micro-batch) to
        # deduplicate a config literal
        seen: dict[Any, dict] = {}
        for row in lk["table"]:
            seen.setdefault(row[key], row)
        struct = T.StructType(
            [T.StructField(key, schema.get(key, T.StringType()), True)]
            + [T.StructField(c, type_by_name(t), True)
               for c, t in out_cols.items()]
        )
        # an Arrow table plans as a LocalTableScan; a list would go
        # through parallelize, whose PythonRDD starts Python workers to
        # broadcast a config constant. Rows get what a list gets: the
        # type check, then the string coercion and internal values
        verify = _make_type_verifier(struct)
        convert = _create_converter(struct)
        rows = []
        for row in seen.values():
            verify(row)
            rows.append(dict(zip(struct.names,
                                 struct.toInternal(convert(row)))))
        lookup_df = spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(struct)),
            schema=struct,
        )
    else:
        lookup_df = spark.read.parquet(lk["path"]).select(
            key, *[c for c in out_cols]
        ).dropDuplicates([key])

    joined = df.join(F.broadcast(lookup_df), on=key, how="left")
    step = CompiledStep(
        schema_updates={c: type_by_name(t) for c, t in out_cols.items()}
    )
    if lk.get("on_miss", "drop") == "drop":
        probe = next(iter(out_cols))
        step.failed = F.col(key).isNotNull() & F.col(probe).isNull()
        step.reason = f"lookup_miss:{key}"
    return joined, step
