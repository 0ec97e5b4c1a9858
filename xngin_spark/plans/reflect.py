"""Optimized-plan → SQL reflection: render an analyzed DataFrame plan
back to runnable Spark SQL and assert result-equivalence.

Reference parity: doradb-plan/src/lgc/reflect.rs:16 renders the
reference's optimized logical plan back to SQL text as its
plan-equivalence oracle (build plan → reflect → re-parse → same plan).
The Spark analog renders the ANALYZED logical plan (the stable,
pre-optimization shape — Catalyst's optimized plans contain nodes with
no SQL surface) to SQL, re-runs it through ``spark.sql``, and checks
the results match. That closes the same consistency loop: the
DataFrame-built plan and its SQL reflection must agree, so a
plan-construction bug that silently changes semantics is caught by its
own round trip.

Coverage is the relational core (scan/filter/project/aggregate/join/
sort/limit/offset/distinct/setops/window); nodes with no faithful SQL
rendering (Generate/Expand, streaming sources, recursive CTEs) raise
``Unreflectable`` and are reported as such by the round-trip test
rather than silently skipped. Ambiguous plans (a join whose sides share
output names, which bare-attribute SQL can't disambiguate) also raise.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame

from xngin_spark.operators.util import checkpoint


class Unreflectable(Exception):
    """This plan contains a node or shape with no faithful SQL render."""


#: localCheckpoint barriers the renderer can see through: the
#: checkpointed DataFrame's LogicalRDD reuses the ORIGINAL plan's
#: output attributes (same exprIds), so the pre-checkpoint analyzed
#: plan keyed by those ids can be substituted at render time — the
#: reflection then reads as if the barrier never existed. Registered
#: by :func:`reflect_checkpoint`; an unregistered LogicalRDD stays
#: Unreflectable (it really is data, not a plan). Closes the q11 gap
#: vs the reference's 22/22 reflect.rs round-trip: the checkpoint is
#: an EXECUTION choice (pin the shared per-part aggregate), and must
#: not cost the plan its SQL surface.
_BARRIERS: "OrderedDict[tuple[int, ...], object]" = OrderedDict()

#: Each registry entry pins a py4j reference to a JVM logical plan (and
#: transitively its relation metadata) for as long as it lives, so the
#: registry is LRU-bounded: a long-lived server session re-checkpointing
#: per query (one per q11 execution) cycles through the cap instead of
#: leaking plans for the process lifetime. Evicting a still-referenced
#: barrier only costs reflectability (Unreflectable on the next render
#: attempt — an explicit error, never a wrong answer), and only under
#: >cap simultaneously-live checkpoints.
_BARRIERS_CAP = 256


def _output_key(jnode_or_plan) -> tuple[int, ...]:
    out = jnode_or_plan.output()
    return tuple(out.apply(i).exprId().id() for i in range(out.size()))


def reflect_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``operators.util.checkpoint(df, eager)`` that stays reflectable:
    records the pre-checkpoint analyzed plan so reflect_sql renders
    through the barrier instead of raising on the LogicalRDD."""
    original = df._jdf.queryExecution().analyzed()
    out = checkpoint(df, eager=eager)
    key = _output_key(out._jdf.queryExecution().analyzed())
    _BARRIERS[key] = original
    _BARRIERS.move_to_end(key)
    while len(_BARRIERS) > _BARRIERS_CAP:
        _BARRIERS.popitem(last=False)
    return out


def _barrier_origin(key: tuple[int, ...]):
    """Registered pre-checkpoint plan for ``key``, refreshing its LRU
    position, or None."""
    got = _BARRIERS.get(key)
    if got is not None:
        _BARRIERS.move_to_end(key)
    return got


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName()


class _Renderer:
    def __init__(self, jvm=None) -> None:
        self.n = 0
        self._jvm = jvm  # for Literal rendering of LocalRelation data
        # per-SELECT stacks of filter conditions hoisted out of
        # flattened join sides (see _side); the arm that owns the
        # enclosing SELECT pops its frame and merges into its WHERE
        self._frames: list[list[str]] = []

    def _alias(self) -> str:
        self.n += 1
        return f"__r{self.n}"

    # ---- helpers ---------------------------------------------------------

    def _from_item(self, node, may_hoist: bool = True) -> tuple[str, bool]:
        """Render a node as something legal after FROM → ``(sql,
        pruned)``. ``pruned`` is True when the rendered scope exposes
        MORE columns than the plan node outputs (an inline join whose
        side dropped columns via a peeled pruning Project), so a ``*``
        over it would be unfaithful. A user-supplied DataFrame alias
        (SubqueryAlias) is PRESERVED: Catalyst renders qualified
        attribute references (``l1.l_orderkey``) against it, so
        replacing it with a generated alias would unresolve them."""
        # peel pass-through Projects when a user alias (SubqueryAlias)
        # or literal table sits underneath, so IT stays the FROM item's
        # name — qualified references above (``t.s``) would otherwise
        # dangle against a generated derived-table alias. Guarded: the
        # peel must not re-expose duplicate column names the project
        # was disambiguating, and anything not ending at an
        # alias-preserving node renders unpeeled as before. A narrowing
        # peel marks ``pruned`` so the owning arm emits an explicit
        # select list instead of ``*``.
        peeled_prune = False
        probe, narrow = node, False
        while _name(probe) == "Project" and self._is_passthrough_project(probe):
            child = probe.children().apply(0)
            if set(self._outputs(probe)) != set(self._outputs(child)):
                narrow = True
            probe = child
        if probe is not node and _name(probe) in ("SubqueryAlias", "LocalRelation"):
            exposed = self._outputs(probe)
            if len(set(exposed)) == len(exposed):
                node, peeled_prune = probe, narrow
        if _name(node) == "SubqueryAlias":
            alias = node.alias()
            child = node.children().apply(0)
            if _name(child) == "LogicalRelation":
                return f"{self._relation(child)} AS {alias}", peeled_prune
            if _name(child) == "LocalRelation":
                return self._values_item(child, alias), peeled_prune
            return f"({self.select(child)}) AS {alias}", peeled_prune
        if _name(node) == "LogicalRelation":
            return self._relation(node), peeled_prune
        if _name(node) == "LocalRelation":
            return self._values_item(node, self._alias()), peeled_prune
        if _name(node) == "Join":
            # joined-table fragment, parenthesized so it nests as one
            # FROM item while its side aliases stay visible to outer
            # ON/WHERE clauses (SQL scope, unlike a derived table)
            frag, pruned = self._join_fragment(node, may_hoist)
            return f"({frag})", pruned or peeled_prune
        # name the derived table after the single user qualifier its
        # output carries (if any): expressions ABOVE this node qualify
        # their references by that name (``customer.c_custkey``), and a
        # generated alias would strand them. Nested reuse of the same
        # alias is legal SQL shadowing; a same-scope collision fails
        # analysis -> Unreflectable, never silently-different.
        alias = self._common_qualifier(node) or self._alias()
        return f"({self.select(node)}) AS {alias}", peeled_prune

    def _flatten_side(self, node, may_hoist: bool):
        """If ``node`` is a chain of pass-through Projects / Filters
        ending at a Join, flatten it: return ``(fragment_sql,
        hoisted_conds, exposed_names, pruned)`` with the inner join
        rendered inline (its side aliases stay visible to the OUTER
        join's ON — the q21 shape: a semi-join condition referencing an
        alias buried inside the filtered left side) and the chain's
        filter conditions lifted out for the enclosing SELECT's WHERE.

        ``exposed_names`` is the PLAN output of the chain top (so a
        peeled pruning Project narrows it); ``pruned`` marks that the
        SQL scope still exposes the unpruned columns.

        When ``may_hoist`` is False (this side sits under the
        null-supplying / semi side of an outer join somewhere above —
        lifting its filters into the enclosing WHERE would change
        semantics), filter conditions are merged into the ending
        INNER/CROSS join's ON instead, which is exactly equivalent
        (``Filter(c, InnerJoin(a,b,on)) ≡ InnerJoin(a,b,on AND c)``).
        A filtered chain ending at a NON-inner join has no inline
        rendering that keeps both semantics and alias scope; it falls
        back to a derived table with a local WHERE (qualified outer
        references into it then fail analysis → Unreflectable, never a
        silently-different query).

        Returns None when the chain doesn't end at a Join."""
        conds: list[str] = []
        pruned = False
        cur = node
        while True:
            k = _name(cur)
            if k == "Project" and self._is_passthrough_project(cur):
                child = cur.children().apply(0)
                if set(self._outputs(cur)) != set(self._outputs(child)):
                    pruned = True
                cur = child
                continue
            if k == "Filter":
                conds.append(cur.condition().sql())
                cur = cur.children().apply(0)
                continue
            break
        if _name(cur) != "Join":
            return None
        exposed = self._outputs(node)
        if may_hoist or not conds:
            frag, fp = self._join_fragment(cur, may_hoist)
            return f"({frag})", conds, exposed, pruned or fp
        if cur.joinType().sql().upper() in ("INNER", "CROSS"):
            frag, fp = self._join_fragment(cur, False, extra_on=conds)
            return f"({frag})", [], exposed, pruned or fp
        frag, _ = self._join_fragment(cur, False)
        where = " AND ".join(f"({c})" for c in conds)
        cols = self._output_select_list(node)
        return (
            f"(SELECT {cols} FROM ({frag}) WHERE {where}) AS {self._alias()}",
            [],
            exposed,
            False,
        )

    def _side(self, node, jt: str, is_left: bool, may_hoist: bool):
        """Render one join side → ``(sql, exposed_names, pruned)``.
        Flattening WITH filter hoisting into the enclosing WHERE is
        only legal where the filter commutes with every join between
        here and the owning SELECT: a LEFT-side filter commutes with
        INNER/CROSS/LEFT SEMI/LEFT ANTI/LEFT OUTER (it only ever
        removes whole left rows); a RIGHT-side filter only with
        INNER/CROSS (for outer/semi kinds it changes match semantics,
        and its columns aren't even visible above a semi join).
        ``may_hoist`` carries the verdict from ABOVE this join — once
        any ancestor side was non-hoistable, everything beneath it is
        barred from the enclosing WHERE and must bind filters locally
        (ON-merge or derived table, see _flatten_side)."""
        u = jt.upper()
        hoist_ok = may_hoist and (
            u in ("INNER", "CROSS")
            or (is_left and u in ("LEFT SEMI", "LEFT ANTI", "LEFT OUTER"))
        )
        flat = self._flatten_side(node, hoist_ok and bool(self._frames))
        if flat is not None:
            sql, conds, exposed, pruned = flat
            if conds:
                self._frames[-1].extend(conds)
            return sql, exposed, pruned
        sql, pruned = self._from_item(node, hoist_ok)
        return sql, self._outputs(node), pruned

    def _join_fragment(
        self, node, may_hoist: bool = True, extra_on: list[str] | None = None
    ) -> tuple[str, bool]:
        """Render a Join as a FROM-clause fragment (no SELECT wrapper)
        → ``(sql, pruned)``: qualified references from ABOVE the join
        (filters/projections over pass-through columns) resolve only if
        the join's side aliases stay in the same query scope — wrapping
        every join in a derived table would hide them (the q21 shape).
        ``extra_on`` ANDs extra conditions into this join's ON (the
        no-hoist filter sink for INNER/CROSS, see _flatten_side)."""
        jt = node.joinType().sql()
        if "EXISTENCE" in jt.upper():
            raise Unreflectable("ExistenceJoin has no SQL surface")
        ch = node.children()
        left, lexp, lpr = self._side(ch.apply(0), jt, True, may_hoist)
        right, rexp, rpr = self._side(ch.apply(1), jt, False, may_hoist)
        pruned = lpr or rpr
        dup = set(lexp) & set(rexp)
        if dup:
            raise Unreflectable(f"join sides share output names: {sorted(dup)}")
        cond = node.condition()
        on = [f"({cond.get().sql()})"] if cond.isDefined() else []
        on += [f"({c})" for c in (extra_on or [])]
        if on:
            u = "INNER" if jt.upper() == "CROSS" else jt
            return f"{left} {u} JOIN {right} ON {' AND '.join(on)}", pruned
        if jt.upper() in ("INNER", "CROSS"):
            return f"{left} CROSS JOIN {right}", pruned
        raise Unreflectable(f"condition-less {jt} join")

    def _src(self, node) -> tuple[str, str, str]:
        """Render ``node`` as this SELECT's FROM source inside a fresh
        hoist frame; returns ``(src_sql, extra_where, cols)`` where
        ``extra_where`` collects filter conditions lifted out of
        flattened join sides ('' when none) and ``cols`` is what a
        faithful ``SELECT *`` over this source must say: literally
        ``*`` normally, or an explicit column list when an inline join
        side peeled a pruning Project (the SQL scope then exposes
        columns the plan had projected away). The owning arm must AND
        ``extra_where`` into its WHERE clause and use ``cols`` wherever
        it would have written ``*``."""
        self._frames.append([])
        try:
            if _name(node) == "Join":
                src, pruned = self._join_fragment(node)
            else:
                src, pruned = self._from_item(node)
        finally:
            conds = self._frames.pop()
        cols = self._output_select_list(node) if pruned else "*"
        return src, " AND ".join(f"({c})" for c in conds), cols

    @staticmethod
    def _common_qualifier(node) -> str | None:
        """The single user alias qualifying ``node``'s qualified output
        attributes, or None when outputs carry two different qualifiers
        (a join — no one name can stand for both sides). Unqualified
        outputs (window/computed columns like ``_we0``) don't vote:
        they are referenced bare above and resolve under any alias."""
        quals = set()
        for a in _seq(node.output()):
            q = _seq(a.qualifier())
            if q:
                quals.add(q[-1])
        if len(quals) == 1:
            return quals.pop()
        return None

    @staticmethod
    def _is_passthrough_project(node) -> bool:
        """True if every projected expression is a bare attribute —
        reordering/pruning only, safe to flatten a WHERE over."""
        return all(
            _name(e) == "AttributeReference" for e in _seq(node.projectList())
        )

    def _relation(self, node) -> str:
        rel = node.relation()
        fmt = rel.fileFormat().toString().lower()
        if fmt != "parquet":
            raise Unreflectable(f"non-parquet relation: {fmt}")
        paths = _seq(rel.location().rootPaths())
        if len(paths) != 1:
            raise Unreflectable(f"multi-path relation ({len(paths)} roots)")
        return f"parquet.`{paths[0]}`"

    def _outputs(self, node) -> list[str]:
        return [a.name() for a in _seq(node.output())]

    def _output_select_list(self, node) -> str:
        """Explicit SELECT list reproducing ``node``'s plan output —
        the faithful replacement for ``*`` over a scope that exposes
        more columns than the plan (a peeled pruning Project).
        QUALIFIED references (``y2.yk AS yk``): a pruned-away column
        may share its bare name with a surviving one from the other
        join side, so bare names would be ambiguous in SQL even though
        the plan output is unambiguous."""
        return ", ".join(
            f"{a.sql()} AS `{a.name()}`" for a in _seq(node.output())
        )

    def _grouping_sets(self, agg, expand) -> str:
        """Render Aggregate-over-Expand (the analyzed form of
        rollup/cube/groupingSets) back to ``GROUP BY GROUPING SETS``.
        Each Expand projection carries the group columns either as the
        source attribute or a typed NULL literal plus the grouping-id
        literal — the non-null positions ARE that projection's grouping
        set. ``grouping(col)`` / ``grouping_id()`` markers in the
        aggregate list analyze to bit-extractions over
        ``spark_grouping_id``; those are re-spelled back to the marker
        functions so the reflected text parses standalone."""
        import re

        groupings = _seq(agg.groupingExpressions())
        if not groupings or groupings[-1].name() != "spark_grouping_id":
            raise Unreflectable("Expand without spark_grouping_id grouping")
        k = len(groupings) - 1
        # base group expressions live in the Expand child's Project as
        # trailing aliases; only bare-attribute groups reflect (an
        # expression group would need alias-aware re-spelling)
        proj = expand.children().apply(0)
        if _name(proj) != "Project":
            raise Unreflectable("Expand child is not the dup-alias Project")
        plist = _seq(proj.projectList())
        for e in plist:
            en = _name(e)
            if en == "AttributeReference":
                continue
            if en == "Alias" and _name(e.child()) == "AttributeReference":
                continue
            raise Unreflectable(
                f"non-attribute grouping expression: {e.sql()}"
            )
        # the trailing k entries must specifically be the dup Aliases —
        # a bare trailing AttributeReference passes the per-entry guard
        # above but has no .child(); keep the error shape Unreflectable
        tail = [plist[len(plist) - k + i] for i in range(k)]
        if any(_name(e) != "Alias" for e in tail):
            raise Unreflectable("Expand Project tail is not dup aliases")
        gnames = [e.child().sql() for e in tail]
        out_n = expand.output().size()
        sets = []
        for p in _seq(expand.projections()):
            elems = [p.apply(out_n - (k + 1) + i) for i in range(k)]
            cols = [
                gnames[i]
                for i, e in enumerate(elems)
                if _name(e) == "AttributeReference"
            ]
            sets.append("(" + ", ".join(cols) + ")")

        def respell(sql: str) -> str:
            sql = re.sub(
                r"CAST\(\(shiftright\(spark_grouping_id, (\d+)\) & 1L?\)"
                r" AS TINYINT\)",
                lambda m: f"grouping({gnames[k - 1 - int(m.group(1))]})",
                sql,
            )
            if "spark_grouping_id" in sql:
                sql = sql.replace("spark_grouping_id", "grouping_id()")
            return sql

        aggs = ", ".join(
            respell(e.sql()) for e in _seq(agg.aggregateExpressions())
        )
        src, extra, _ = self._src(proj.children().apply(0))
        where = f" WHERE {extra}" if extra else ""
        return (
            f"SELECT {aggs} FROM {src}{where}"
            f" GROUP BY GROUPING SETS ({', '.join(sets)})"
        )

    def _values_item(self, node, alias: str) -> str:
        """Inline literal data (createDataFrame / VALUES) as an inline
        VALUES table usable directly as a FROM item."""
        rows = _seq(node.data())
        out = _seq(node.output())
        if not rows:
            raise Unreflectable("empty LocalRelation (no VALUES rendering)")
        if len(rows) > 1000:
            raise Unreflectable(f"LocalRelation too large ({len(rows)} rows)")
        if self._jvm is None:
            raise Unreflectable("LocalRelation rendering needs a JVM handle")
        Lit = self._jvm.org.apache.spark.sql.catalyst.expressions.Literal
        vals = []
        for r in rows:
            cells = []
            for i, a in enumerate(out):
                dt = a.dataType()
                v = None if r.isNullAt(i) else r.get(i, dt)
                cells.append(Lit(v, dt).sql())
            vals.append("(" + ", ".join(cells) + ")")
        cols = ", ".join(f"`{a.name()}`" for a in out)
        return f"VALUES {', '.join(vals)} AS {alias}({cols})"

    # ---- node renderers --------------------------------------------------

    def select(self, node) -> str:  # noqa: C901 - one arm per plan node
        kind = _name(node)
        ch = node.children()

        if kind == "LogicalRelation":
            return f"SELECT * FROM {self._relation(node)}"

        if kind == "LogicalRDD":
            # a registered localCheckpoint barrier renders as its
            # pre-checkpoint plan (same output attributes by
            # construction); any other materialized RDD is data with
            # no SQL surface
            orig = _barrier_origin(_output_key(node))
            if orig is not None:
                return self.select(orig)
            raise Unreflectable("LogicalRDD with no registered origin")

        if kind == "SubqueryAlias":
            return self.select(ch.apply(0))

        if kind == "ResolvedHint":
            # join-strategy hints (broadcast(dim)) shape the physical
            # plan, not the result; the reflection drops them and lets
            # CBO/AQE re-derive the strategy — result-equivalence is
            # what the round trip asserts
            return self.select(ch.apply(0))

        if kind == "Project":
            exprs = ", ".join(e.sql() for e in _seq(node.projectList()))
            child = ch.apply(0)
            if _name(child) == "OneRowRelation":
                return f"SELECT {exprs}"
            conds = []
            if _name(child) == "Filter":
                # Project(Filter(x)): same level — SELECT list and WHERE
                # share x's scope, keeping join aliases visible
                conds.append(f"({child.condition().sql()})")
                child = child.children().apply(0)
            src, extra, _ = self._src(child)
            if extra:
                conds.append(extra)
            where = f" WHERE {' AND '.join(conds)}" if conds else ""
            return f"SELECT {exprs} FROM {src}{where}"

        if kind == "Filter":
            conds = [f"({node.condition().sql()})"]
            child = ch.apply(0)
            exprs = None
            if _name(child) == "Project" and self._is_passthrough_project(child):
                # Filter(passthrough-Project(x)): flatten so qualified
                # refs in the condition still see x's join aliases; a
                # computed projection can NOT flatten (SQL WHERE cannot
                # reference SELECT-list aliases) and wraps instead
                exprs = ", ".join(e.sql() for e in _seq(child.projectList()))
                child = child.children().apply(0)
            src, extra, cols = self._src(child)
            if extra:
                conds.append(extra)
            return f"SELECT {exprs or cols} FROM {src} WHERE {' AND '.join(conds)}"

        if kind == "Aggregate":
            groups = [e.sql() for e in _seq(node.groupingExpressions())]
            child = ch.apply(0)
            if _name(child) == "Expand":
                return self._grouping_sets(node, child)
            aggs = ", ".join(e.sql() for e in _seq(node.aggregateExpressions()))
            conds = []
            if _name(child) == "Filter":
                conds.append(f"({child.condition().sql()})")
                child = child.children().apply(0)
            src, extra, _ = self._src(child)
            if extra:
                conds.append(extra)
            where = f" WHERE {' AND '.join(conds)}" if conds else ""
            sql = f"SELECT {aggs} FROM {src}{where}"
            if groups:
                sql += " GROUP BY " + ", ".join(groups)
            return sql

        if kind == "Join":
            src, extra, cols = self._src(node)
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT {cols} FROM {src}{where}"

        if kind == "Sort":
            order = ", ".join(o.sql() for o in _seq(node.order()))
            src, extra, cols = self._src(ch.apply(0))
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT {cols} FROM {src}{where} ORDER BY {order}"

        if kind in ("GlobalLimit", "LocalLimit"):
            n = node.limitExpr().sql()
            child = ch.apply(0)
            if kind == "GlobalLimit" and _name(child) == "LocalLimit":
                child = child.children().apply(0)
            # LIMIT must stay attached to an inner ORDER BY to preserve
            # top-k semantics (a sorted subquery's order is not
            # guaranteed to survive into the outer query)
            if _name(child) == "Sort":
                order = ", ".join(o.sql() for o in _seq(child.order()))
                src, extra, cols = self._src(child.children().apply(0))
                where = f" WHERE {extra}" if extra else ""
                return f"SELECT {cols} FROM {src}{where} ORDER BY {order} LIMIT {n}"
            src, extra, cols = self._src(child)
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT {cols} FROM {src}{where} LIMIT {n}"

        if kind == "Offset":
            # Plan Offset(m, Limit(n, c)) means "rows m..n of c" (limit
            # applied FIRST); SQL `LIMIT k OFFSET m` applies the offset
            # first — so the rendered limit must shrink to n-m.
            off_sql = node.offsetExpr().sql()
            child = ch.apply(0)
            if _name(child) == "GlobalLimit":
                lim_sql = child.limitExpr().sql()
                try:
                    k = int(lim_sql) - int(off_sql)
                except ValueError as exc:
                    raise Unreflectable("non-literal LIMIT/OFFSET") from exc
                inner = child.children().apply(0)
                if _name(inner) == "LocalLimit":
                    inner = inner.children().apply(0)
                if _name(inner) == "Sort":
                    order = ", ".join(o.sql() for o in _seq(inner.order()))
                    src, extra, cols = self._src(inner.children().apply(0))
                    where = f" WHERE {extra}" if extra else ""
                    return (
                        f"SELECT {cols} FROM {src}{where} ORDER BY {order}"
                        f" LIMIT {max(k, 0)} OFFSET {off_sql}"
                    )
                src, extra, cols = self._src(inner)
                where = f" WHERE {extra}" if extra else ""
                return (
                    f"SELECT {cols} FROM {src}{where}"
                    f" LIMIT {max(k, 0)} OFFSET {off_sql}"
                )
            src, extra, cols = self._src(child)
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT {cols} FROM {src}{where} OFFSET {off_sql}"

        if kind == "Distinct":
            src, extra, cols = self._src(ch.apply(0))
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT DISTINCT {cols} FROM {src}{where}"

        if kind == "Deduplicate":
            keys = {a.name() for a in _seq(node.keys())}
            if keys == set(self._outputs(ch.apply(0))):
                src, extra, cols = self._src(ch.apply(0))
                where = f" WHERE {extra}" if extra else ""
                return f"SELECT DISTINCT {cols} FROM {src}{where}"
            raise Unreflectable("dropDuplicates on a key subset")

        if kind == "Union":
            parts = [f"({self.select(c)})" for c in _seq(ch)]
            return " UNION ALL ".join(parts)

        if kind in ("Except", "Intersect"):
            op = "EXCEPT" if kind == "Except" else "INTERSECT"
            if node.isAll():
                op += " ALL"
            left, right = self.select(ch.apply(0)), self.select(ch.apply(1))
            return f"({left}) {op} ({right})"

        if kind == "Window":
            wexprs = ", ".join(e.sql() for e in _seq(node.windowExpressions()))
            src, extra, cols = self._src(ch.apply(0))
            where = f" WHERE {extra}" if extra else ""
            return f"SELECT {cols}, {wexprs} FROM {src}{where}"

        if kind == "OneRowRelation":
            return "SELECT 1"

        if kind == "View":
            # inline the view definition — faithful because a (temp)
            # view IS its plan; the reflected text then stands alone
            # without requiring the view to be registered
            return self.select(ch.apply(0))

        if kind == "Range":
            return (
                f"SELECT * FROM range({node.start()}, {node.end()},"
                f" {node.step()})"
            )

        if kind == "LocalRelation":
            return f"SELECT * FROM {self._values_item(node, self._alias())}"

        raise Unreflectable(f"no SQL renderer for plan node {kind}")


def reflect_sql(df: DataFrame) -> str:
    """Render ``df``'s analyzed logical plan as runnable Spark SQL."""
    import re

    plan = df._jdf.queryExecution().analyzed()
    sql = _Renderer(jvm=df.sparkSession._jvm).select(plan)
    # Expression.sql() spells the extract field as a quoted literal
    # ("extract('YEAR' FROM x)") which Spark's own parser rejects —
    # re-spell to the keyword form the grammar accepts.
    return re.sub(r"extract\('(\w+)' FROM ", r"extract(\1 FROM ", sql)


def roundtrip_equivalent(df: DataFrame, check_rows: int = 100_000) -> bool:
    """reflect → spark.sql → order-insensitive result comparison.

    The reference asserts reflected SQL re-plans to the same plan; Spark
    SQL round-trips through the parser to a *different but equivalent*
    plan (aliasing subqueries changes the tree), so equivalence is
    checked on RESULTS: same columns, same multiset of rows.
    """
    from pyspark.errors import AnalysisException

    sql = reflect_sql(df)
    try:
        twin = df.sparkSession.sql(sql)
        twin.schema  # force analysis
    except AnalysisException as e:
        # A plan whose qualified references cross a derived-table
        # boundary the renderer could not flatten (the side-flattening
        # in _side covers the known shapes; anything left is an
        # unhandled scoping) surfaces as Unreflectable, never as a
        # silently-different query.
        raise Unreflectable(
            f"generated SQL failed analysis: {str(e).splitlines()[0][:200]}"
        ) from e
    if [f.name for f in df.schema.fields] != [f.name for f in twin.schema.fields]:
        return False
    a = df.limit(check_rows).collect()
    b = twin.limit(check_rows).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    return sorted(map(key, a)) == sorted(map(key, b))
