"""Scannerless recursive-descent parser for the query language.

Grammar parity with /root/reference/grammar/grammar.py (pyleri, 947
lines): one data-bearing statement (select) plus list/count/show/
create/drop/alter/grant/revoke, calc and timeit. Time and integer
expressions are constant-folded during the parse with `now` captured
once (ref src/siri/db/query.c:592-594, 852-969).

Set-operator evaluation is left-to-right with no precedence
(grammar.py:449-464); `where` expressions cap paren nesting at 6
(include/cexpr/cexpr.h:7).
"""

from __future__ import annotations

import re

from ..errors import ParseError, QueryError
from . import nodes as N
from . import timeexpr as TE

MAX_QUERY_LEN = 65535  # query.c guards long queries → "Query too long."
MAX_SERIES_PARENS = 500  # cleri recursion limit
MAX_WHERE_DEPTH = 6  # include/cexpr/cexpr.h:7

_RE_WS = re.compile(r"(?:\s+|#[^\n]*)+")
_RE_DQ = re.compile(r'(?:"(?:[^"]*)")+')
_RE_SQ = re.compile(r"(?:'(?:[^']*)')+")
_RE_GRAVE = re.compile(r"(?:`(?:[^`]*)`)+")
_RE_REGEX = re.compile(r"/([^/\\]*(?:\\.[^/\\]*)*)/(i?)")
_RE_TIMESTR = re.compile(r"([0-9]+)([smhdw])\b")
_RE_INT = re.compile(r"[-+]?[0-9]+")
_RE_UINT = re.compile(r"[0-9]+")
_RE_FLOAT = re.compile(r"[-+]?[0-9]*\.?[0-9]+")
_RE_NAME = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")

AGG_NAMES = (
    "count", "sum", "mean", "median_low", "median_high", "median",
    "min", "max", "variance", "pvariance", "stddev", "first", "last",
)
# f_limit's Choice admits only the 13 aggregates — not timeval/interval
# (ref grammar/grammar.py:555-574)
LIMIT_AGGS = AGG_NAMES

SERIES_COLUMNS = (
    "name", "type", "length", "start", "end", "shard_duration", "pool",
)

SHOW_FIELDS = (
    "active_handles", "active_tasks", "buffer_path", "buffer_size",
    "dbname", "dbpath", "drop_threshold", "duration_log", "duration_num",
    "fifo_files", "expiration_log", "expiration_num", "idle_percentage",
    "idle_time", "ip_support", "libuv", "list_limit", "log_level",
    "max_open_files", "mem_usage", "open_files", "pool",
    "received_points", "reindex_progress", "selected_points",
    "select_points_limit", "server", "startup_time", "status",
    "sync_progress", "tee", "time_precision", "timezone", "uptime",
    "uuid", "version", "who_am_i",
)

ACCESS_KEYWORDS = (
    "read", "write", "modify", "full", "select", "show", "list",
    "count", "create", "insert", "drop", "grant", "revoke", "alter",
)


class Parser:
    def __init__(self, q: str, precision: str = "s", now: int | None = None,
                 tzinfo=None):
        if len(q) >= MAX_QUERY_LEN:
            raise QueryError("Query too long.")
        self.q = q
        self.pos = 0
        self.precision = precision
        self.now = TE.now_ts(precision) if now is None else now
        self.tzinfo = tzinfo
        # positions where a folded expression / where-clause stopped
        # consuming: cleri keeps their continuation tokens
        # ('+ - * % /', 'and'/'or') in the expecting set when the
        # error lands exactly there (mid-expression tail positions)
        self._expr_open_at = -1
        self._where_open_at = -1
        # ditto for a complete series match (set-operator
        # continuations, grammar.py:433-463 series_setopr) and a
        # complete aggregate list / select_aggregate ('=>' List
        # separator, then the still-open prefix/suffix optionals)
        self._series_open_at = -1
        self._agg_open_at = -1
        self._agg_cont: list = []

    # ------------------------------------------------------------ low level
    def _ws(self):
        m = _RE_WS.match(self.q, self.pos)
        if m:
            self.pos = m.end()

    def _match(self, rx: re.Pattern):
        self._ws()
        m = rx.match(self.q, self.pos)
        if m:
            self.pos = m.end()
        return m

    def _token(self, tok: str) -> bool:
        """Match a literal operator/punctuation token."""
        self._ws()
        if self.q.startswith(tok, self.pos):
            # avoid matching '<' of '<=' etc: caller orders longest-first
            self.pos += len(tok)
            return True
        return False

    def _keyword(self, word: str) -> bool:
        self._ws()
        end = self.pos + len(word)
        if (self.q[self.pos:end] == word
                and not _RE_NAME.match(self.q, end)
                and (end >= len(self.q)
                     or not (self.q[end].isalnum() or self.q[end] == "_"))):
            self.pos = end
            return True
        return False

    def _error(self, expecting: str):
        self._ws()
        err = ParseError(
            f"Query error at position {self.pos}. Expecting {expecting}"
        )
        err.pos = self.pos
        raise err

    def _merged_error(self, exp: list):
        """cleri merges every still-open alternative at the furthest
        position into one expectation list (ref query.c:459-559)."""
        if len(exp) == 1:
            self._error(exp[0])
        self._error(", ".join(exp[:-1]) + " or " + exp[-1])

    def _open_cont(self) -> list:
        """Continuation tokens of partially-consumed constructs that
        are still open alternatives at the CURRENT error position:
        a just-finished folded expression can continue with the
        arithmetic Tokens, a just-finished where clause with and/or.
        cleri lists them before the outer statement's own tail
        because the inner attempts happen first (query.c:459-559
        walks the expect list in attempt order)."""
        self._ws()
        exp = []
        if self.pos == self._expr_open_at:
            exp.append("+ - * % /")
        if self.pos == self._where_open_at:
            exp += ["and", "or"]
        if self.pos == self._series_open_at:
            # series_setopr in cleri attempt order (grammar.py:
            # 433-438): each Choice lists its Tokens/Token spaced
            # form first, then the keyword (query.c:459-559 renders
            # Tokens via their spaced string, like '+ - * % /')
            exp += [", |", "union", "-", "difference",
                    "&", "intersection", "^", "symmetric_difference"]
        if self.pos == self._agg_open_at:
            exp += self._agg_cont
        return exp

    def _eof(self) -> bool:
        self._ws()
        return self.pos >= len(self.q)

    # -------------------------------------------------------------- strings
    def _string(self) -> str | None:
        m = self._match(_RE_DQ)
        if m:
            return "".join(re.findall(r'"([^"]*)"', m.group(0)))
        m = self._match(_RE_SQ)
        if m:
            return "".join(re.findall(r"'([^']*)'", m.group(0)))
        return None

    def _grave(self) -> str | None:
        m = self._match(_RE_GRAVE)
        if m:
            return "".join(re.findall(r"`([^`]*)`", m.group(0)))
        return None

    def _regex(self) -> tuple[str, bool] | None:
        m = self._match(_RE_REGEX)
        if m:
            return m.group(1), m.group(2) == "i"
        return None

    # ---------------------------------------------------- folded expressions
    def _time_expr(self) -> int:
        return self._expr_sum(time_mode=True)

    def _int_expr(self) -> int:
        return self._expr_sum(time_mode=False)

    def _expr_sum(self, time_mode: bool) -> int:
        result = self._expr_term(time_mode)
        while True:
            if self._token("+"):
                result += self._expr_term(time_mode)
            elif self._peek_binary_minus():
                self._token("-")
                result -= self._expr_term(time_mode)
            else:
                # the expression Prio's Sequence(THIS, Tokens, THIS)
                # stays an open alternative at exactly this position
                self._expr_open_at = self.pos
                return result

    def _peek_binary_minus(self) -> bool:
        self._ws()
        return self.q.startswith("-", self.pos)

    def _expr_term(self, time_mode: bool) -> int:
        result = self._expr_factor(time_mode)
        while True:
            if self._token("*"):
                result *= self._expr_factor(time_mode)
            elif self._token("%"):
                result = TE.c_mod(result, self._expr_factor(time_mode))
            elif self._peek_division():
                self._token("/")
                result = TE.c_div(result, self._expr_factor(time_mode))
            else:
                return result

    def _peek_division(self) -> bool:
        """A '/' here is division, not a regex literal, inside an expr."""
        self._ws()
        return self.q.startswith("/", self.pos)

    def _expr_factor(self, time_mode: bool) -> int:
        if self._token("("):
            v = self._expr_sum(time_mode)
            if not self._token(")"):
                self._merged_error(self._open_cont() + ["')'"])
            return v
        if self._token("-"):
            return -self._expr_factor(time_mode)
        if self._token("+"):
            return self._expr_factor(time_mode)
        if time_mode:
            m = self._match(_RE_TIMESTR)
            if m:
                return TE.unit_value(int(m.group(1)), m.group(2),
                                     self.precision)
            if self._keyword("now"):
                return self.now
            s = self._string()
            if s is not None:
                return TE.parse_iso8601(s, self.precision, self.tzinfo)
        m = self._match(_RE_INT)
        if m:
            return int(m.group(0))
        # the expression Prio's FIRST set in grammar order
        # (time_expr / int_expr, ref grammar/grammar.py:227-240),
        # token names per query.c:500-516
        if time_mode:
            self._error("date/time_string, now, single_quote_str, "
                        "double_quote_str, integer or (")
        self._error("integer or (")

    # --------------------------------------------------------- series match
    def _opt_series_match(self):
        """Optional(series_match): backtrack only when no token of a
        match was consumed — a failure deeper inside a partially
        consumed match is a real error and propagates."""
        self._ws()
        save = self.pos
        try:
            return self.series_match()
        except ParseError as ex:
            if getattr(ex, "pos", None) == save:
                self.pos = save
                return None
            raise

    def series_match(self, depth: int = 0):
        left = self._series_operand(depth)
        while True:
            # a complete match may always continue with a set
            # operator: keep that continuation open for the
            # expectation list if the parse stops exactly here
            self._ws()
            self._series_open_at = self.pos
            op = self._setopr()
            if op is None:
                return left
            right = self._series_operand(depth)
            left = N.SeriesSetOp(op, left, right)

    def _setopr(self) -> str | None:
        for tok, name in ((",", "union"), ("|", "union"), ("&", "intersection"),
                          ("^", "symmetric_difference"), ("-", "difference")):
            if self._token(tok):
                return name
        for kw in ("union", "intersection", "symmetric_difference",
                   "difference"):
            if self._keyword(kw):
                return kw
        return None

    def _series_operand(self, depth: int):
        if depth >= MAX_SERIES_PARENS:
            raise QueryError(
                "Memory allocation error or maximum recursion depth reached.")
        if self._token("("):
            inner = self.series_match(depth + 1)
            if not self._token(")"):
                # inner List's set-operator attempts come first
                self._merged_error(self._open_cont() + [")"])
            return inner
        return self._series_atom()

    def _series_atom(self):
        if self._token("*") or self._keyword("all"):
            return N.SeriesAll()
        s = self._string()
        if s is not None:
            return N.SeriesName(s)
        g = self._grave()
        if g is not None:
            return N.GroupTagMatch(g)
        r = self._regex()
        if r is not None:
            self._check_regex(r[0])
            return N.SeriesRegex(r[0], r[1])
        # cleri-style expectation list (ref QUERY_send_invalid_error,
        # query.c:459-559); the exact token set is the reference's
        # golden (itest/test_parentheses.py:274-279)
        self._error("*, all, single_quote_str, double_quote_str or (")

    def _check_regex(self, pattern: str):
        try:
            re.compile(pattern)
        except re.error:
            raise QueryError(
                f"Cannot compile regular expression '/{pattern}/'")

    # ------------------------------------------------------------- pipeline
    def aggregate_functions(self) -> list:
        funcs = [self._aggregate_function(funcs=None)]
        while True:
            # the List can always continue with '=>' — keep it in
            # the expectation set if the parse stops exactly here
            self._ws()
            self._agg_open_at = self.pos
            self._agg_cont = ["=>"]
            if not self._token("=>"):
                return funcs
            self._aggregate_function(funcs=funcs)

    def _aggregate_function(self, funcs: list | None):
        """Parse one pipeline function. When `funcs` is given, append in
        place (needed for offset() which mutates its predecessor,
        ref aggregate.c:224-236)."""
        out = funcs if funcs is not None else []

        def emit(f):
            out.append(f)
            return out[0] if funcs is None else None

        if self._token("*") or self._keyword("all") or self._keyword("points"):
            return emit(N.AllPointsFunc())

        if self._keyword("offset"):
            self._expect("(")
            v = self._time_expr()
            self._expect(")")
            prev = out[-1] if out else None
            group_by = getattr(prev, "group_by", None)
            if prev is None or not group_by:
                raise QueryError(
                    "Offset must be used after an aggregation method.")
            prev.offset = TE.c_mod(v, group_by)
            return out[0] if funcs is None else None

        if self._keyword("limit"):
            self._expect("(")
            n = self._int_expr()
            self._expect(",")
            for agg in LIMIT_AGGS:
                if self._keyword(agg):
                    break
            else:
                # f_limit's Choice order (grammar/grammar.py:555-574)
                self._error(
                    "mean, median, median_high, median_low, sum, "
                    "min, max, count, variance, pvariance, stddev, "
                    "first or last")
            self._expect(")")
            if n <= 0:
                raise QueryError(
                    "Limit must be an integer value larger than zero.")
            return emit(N.LimitFunc(n, agg))

        if self._keyword("filter"):
            return emit(self._filter_func())

        if self._keyword("derivative"):
            self._expect("(")
            timespan: float = 1.0
            group_by = None
            if not self._peek_close():
                timespan = float(self._time_expr())
                if not timespan:
                    raise QueryError(
                        "Time-span must be an integer value larger than zero.")
                if self._token(","):
                    group_by = self._time_expr()
                    if not group_by:
                        raise QueryError(
                            "Group by time must be an integer value larger "
                            "than zero.")
                    timespan /= group_by
            self._expect(")")
            return emit(N.DerivativeFunc(timespan, group_by))

        if self._keyword("difference"):
            g = self._optional_group_by()
            return emit(N.DifferenceFunc(g))

        if self._keyword("timeval"):
            self._expect("(")
            self._expect(")")
            return emit(N.TimevalFunc())

        if self._keyword("interval"):
            self._expect("(")
            self._expect(")")
            return emit(N.IntervalFunc())

        for name in AGG_NAMES:
            if self._keyword(name):
                g = self._optional_group_by()
                return emit(N.AggFunc(name, g))

        # cleri expectation list in the grammar's Choice order
        # (aggregate_functions, ref grammar/grammar.py:577-599)
        self._error(
            "*, all, offset, limit, mean, sum, median, median_low, "
            "median_high, min, max, count, variance, pvariance, "
            "stddev, first, last, timeval, interval, difference, "
            "derivative, filter or points")

    def _peek_close(self) -> bool:
        self._ws()
        return self.q.startswith(")", self.pos)

    def _expect(self, tok: str):
        if not self._token(tok):
            self._error(f"'{tok}'")

    def _optional_group_by(self) -> int | None:
        self._expect("(")
        g = None
        if not self._peek_close():
            g = self._time_expr()
            if not g:
                raise QueryError(
                    "Group by time must be an integer value larger than zero.")
        self._expect(")")
        return g

    def _filter_func(self) -> N.FilterFunc:
        self._expect("(")
        op = "=="
        for tok in ("==", "!=", "<=", ">=", "!~", "<", ">", "~"):
            if self._token(tok):
                op = tok
                break
        # value (grammar order: string, integer, float, regex, nan, inf, -inf)
        value_tp, value = None, None
        s = self._string()
        _RE_FLOATONLY = re.compile(r"[-+]?[0-9]*\.[0-9]+")
        if s is not None:
            value_tp, value = "string", s
        elif m := self._match(_RE_FLOATONLY):
            value_tp, value = "double", float(m.group(0))
        elif m := self._match(_RE_INT):
            value_tp, value = "int", int(m.group(0))
        elif r := self._regex():
            if op not in ("==", "!="):
                raise QueryError(
                    "Regular expressions can only be used with 'equal' (==) "
                    "or 'not equal' (!=) operator.")
            self._check_regex(r[0])
            value_tp, value = "regex", (r[0], r[1])
        elif self._keyword("nan"):
            value_tp, value = "nan", float("nan")
        elif self._keyword("inf"):
            value_tp, value = "inf", float("inf")
        elif self._token("-") and self._keyword("inf"):
            value_tp, value = "ninf", float("-inf")
        else:
            self._error("single_quote_str, double_quote_str, "
                        "regular_expression, integer, float, nan, "
                        "inf or -inf")
        self._expect(")")
        if op in ("~", "!~") and value_tp != "string":
            raise QueryError(
                f"Operator '{op}' can only be used with strings.")
        return N.FilterFunc(op, value_tp, value)

    # ---------------------------------------------------------------- where
    #: access_keywords in the reference's Choice order
    #: (grammar/grammar.py:200-215)
    _ACCESS_KEYWORDS = ("read", "write", "modify", "full", "select",
                        "show", "list", "count", "create", "insert",
                        "drop", "grant", "revoke", "alter")

    def _where(self, props_int, props_str, props_time, has_type,
               type_values=("string", "integer", "float"),
               props_access=()):
        if not self._keyword("where"):
            return None
        self._where_access = tuple(props_access)
        return self._where_expr(0, props_int, props_str, props_time,
                                has_type, type_values)

    def _where_expr(self, depth, pi, ps, pt, has_type, tvals):
        left = self._where_operand(depth, pi, ps, pt, has_type, tvals)
        while True:
            if self._keyword("and"):
                op = "and"
            elif self._keyword("or"):
                op = "or"
            else:
                # the where Prio's and/or sequences stay open here
                self._where_open_at = self.pos
                return left
            right = self._where_operand(depth, pi, ps, pt, has_type, tvals)
            left = N.WhereBool(op, left, right)

    def _where_operand(self, depth, pi, ps, pt, has_type, tvals):
        if self._token("("):
            if depth + 1 >= MAX_WHERE_DEPTH:
                raise QueryError("Max depth reached in 'where' expression!")
            inner = self._where_expr(depth + 1, pi, ps, pt, has_type, tvals)
            if not self._token(")"):
                self._error("')'")
            return inner
        return self._where_cond(pi, ps, pt, has_type, tvals)

    def _int_operator(self) -> str | None:
        for tok in ("==", "!=", "<=", ">=", "<", ">"):
            if self._token(tok):
                return tok
        return None

    def _str_operator(self) -> str | None:
        for tok in ("==", "!=", "<=", ">=", "!~", "<", ">", "~"):
            if self._token(tok):
                return tok
        return None

    def _where_cond(self, pi, ps, pt, has_type, tvals):
        # `access <intop> <access_keyword>` (where_user,
        # grammar.py:426-431): bitmask comparison against the
        # keyword's profile/bit value (cexpr int compare on
        # user->access_bit)
        for prop in getattr(self, "_where_access", ()):
            if self._keyword(prop):
                op = self._int_operator()
                if op is None:
                    self._error("==, !=, <=, >=, < or >")
                from .. import access as ACL
                for kw in self._ACCESS_KEYWORDS:
                    if self._keyword(kw):
                        return N.WhereCond(
                            "access", op, ACL.access_from_name(kw))
                self._merged_error(list(self._ACCESS_KEYWORDS))
        if has_type and self._keyword("type"):
            op = self._int_operator()
            if op not in ("==", "!="):
                self._error("== or !=")
            for tv in tvals:
                if self._keyword(tv):
                    return N.WhereCond("type", op, tv)
            self._error("a type keyword")
        for prop in pt:
            if self._keyword(prop):
                op = self._int_operator()
                if op is None:
                    self._error("==, !=, <=, >=, < or >")
                return N.WhereCond(prop, op, self._time_expr())
        for prop in pi:
            if self._keyword(prop):
                op = self._int_operator()
                if op is None:
                    self._error("==, !=, <=, >=, < or >")
                return N.WhereCond(prop, op, self._int_expr())
        for prop in ps:
            if self._keyword(prop):
                op = self._str_operator()
                if op is None:
                    self._error("==, !=, <=, >=, < or >")
                s = self._string()
                if s is None:
                    self._error(
                        "single_quote_str or double_quote_str")
                return N.WhereCond(prop, op, s)
        # cleri expectation list: the Prio alternatives in grammar
        # order (where_series et al., ref grammar/grammar.py:350-366;
        # where_user lists name then access, grammar.py:426-431)
        opts = list(pi) + list(ps) \
            + list(getattr(self, "_where_access", ())) + list(pt) \
            + (["type"] if has_type else []) + ["("]
        self._error(", ".join(opts[:-1]) + " or " + opts[-1])

    def _where_series(self):
        return self._where(("length", "pool"), ("name",),
                           ("start", "end", "shard_duration"), True)

    # ----------------------------------------------------------- statements
    def parse(self) -> N.Query:
        import sys

        # deep series_match nesting (≤ 499 parens is legal) needs more
        # frames than CPython's default limit
        old = sys.getrecursionlimit()
        if old < 6000:
            sys.setrecursionlimit(6000)
        try:
            timeit = self._keyword("timeit")
            stmt = self._statement()
            if not self._eof():
                self._merged_error(
                    self._open_cont() + ["end_of_statement"])
            return N.Query(stmt, timeit)
        except RecursionError:
            raise QueryError(
                "Memory allocation error or maximum recursion depth "
                "reached.") from None
        finally:
            if old < 6000:
                sys.setrecursionlimit(old)

    def _statement(self):
        if self._keyword("select"):
            return self._select_stmt()
        if self._keyword("list"):
            return self._list_stmt()
        if self._keyword("count"):
            return self._count_stmt()
        if self._keyword("show"):
            return self._show_stmt()
        if self._keyword("create"):
            return self._create_stmt()
        if self._keyword("drop"):
            return self._drop_stmt()
        if self._keyword("alter"):
            return self._alter_stmt()
        if self._keyword("grant"):
            return self._grant_revoke("grant")
        if self._keyword("revoke"):
            return self._grant_revoke("revoke")
        if self._keyword("help"):
            self._ws()
            topic = self.q[self.pos:].strip()
            self.pos = len(self.q)
            return N.HelpStmt(topic)
        # calc statement: a bare time expression (grammar calc_stmt)
        start = self.pos
        try:
            return N.CalcStmt(self._time_expr())
        except ParseError:
            # unknown statement start: the full START expectation
            # list in the grammar's Choice order (grammar.py:877-892;
            # calc_stmt expands to the time-expression terminals)
            self.pos = start
            self._error(
                "timeit, select, list, count, alter, create, drop, "
                "grant, revoke, show, integer, date/time_string, "
                "now, (, help or end_of_statement")

    def _select_stmt(self) -> N.SelectStmt:
        pipelines = [self._select_aggregate()]
        while self._token(","):
            pipelines.append(self._select_aggregate())
        if not self._keyword("from"):
            # cleri attempt order: the aggregate list's own
            # continuations ('=>', prefix/suffix), the
            # select_aggregates List separator, then k_from
            self._merged_error(self._open_cont() + [",", "from"])
        match = self.series_match()
        where = self._where_series()
        timerange = None
        if self._keyword("after"):
            timerange = ("after", self._time_expr())
        elif self._keyword("between"):
            a = self._time_expr()
            if not self._keyword("and"):
                self._merged_error(self._open_cont() + ["and"])
            b = self._time_expr()
            if a > b:
                raise QueryError(
                    f"Start time ({a}) should not be greater than "
                    f"end time ({b})")
            timerange = ("between", a, b)
        elif self._keyword("before"):
            timerange = ("before", self._time_expr())
        elif self._keyword("tail"):
            timerange = ("tail", self._headtail("Tail"))
        elif self._keyword("head"):
            timerange = ("head", self._headtail("Head"))
        merge = None
        if self._keyword("merge"):
            if not self._keyword("as"):
                self._error("as")
            name = self._string()
            if name is None:
                self._error("single_quote_str or double_quote_str")
            using = None
            if self._keyword("using"):
                using = self.aggregate_functions()
            merge = N.MergeAs(name, using)
        if not self._eof():
            # merged expectations of every still-open optional branch,
            # in grammar order (select_stmt, grammar.py:818-831:
            # Optional(where) Optional(Choice(after, between, before,
            # tail, head)) Optional(merge_as) then end)
            exp = self._open_cont()
            if where is None and timerange is None and merge is None:
                exp.append("where")
            if timerange is None and merge is None:
                exp += ["after", "between", "before", "tail", "head"]
            if merge is None:
                exp.append("merge")
            elif merge.using is None:
                exp.append("using")
            exp.append("end_of_statement")
            self._merged_error(exp)
        return N.SelectStmt(pipelines, match, where, timerange, merge)

    def _select_aggregate(self) -> N.Pipeline:
        funcs = self.aggregate_functions()
        prefix = suffix = None
        if self._keyword("prefix"):
            prefix = self._string()
            if prefix is None:
                self._error("single_quote_str or double_quote_str")
        if self._keyword("suffix"):
            suffix = self._string()
            if suffix is None:
                self._error("single_quote_str or double_quote_str")
        # still-open continuations after a complete select_aggregate,
        # in grammar attempt order (select_aggregate, grammar.py:
        # 602-607): once prefix matched, '=>' is closed; once suffix
        # matched, both are
        self._ws()
        self._agg_open_at = self.pos
        if suffix is not None:
            self._agg_cont = []
        elif prefix is not None:
            self._agg_cont = ["suffix"]
        else:
            self._agg_cont = ["=>", "prefix", "suffix"]
        return N.Pipeline(funcs, prefix, suffix)

    def _columns(self, allowed) -> list | None:
        cols = []
        while True:
            got = None
            for c in allowed:
                if self._keyword(c):
                    got = c
                    break
            if got is None:
                if cols:
                    self._error("a column name")
                return None
            cols.append(got)
            if not self._token(","):
                return cols

    #: the series-atom FIRST set (the reference's golden wording,
    #: itest/test_parentheses.py:274-279)
    _SERIES_ATOM_TOKS = ("*", "all", "single_quote_str",
                         "double_quote_str", "(")

    def _tail_error(self, *branches):
        """Merged expectation list for trailing input after a
        statement whose tail is a run of Optionals: every still-open
        branch contributes its FIRST-set tokens in grammar order,
        then end_of_statement (cleri merges open optionals the same
        way; ref query.c:459-559)."""
        exp = self._open_cont() \
            + [t for open_, toks in branches if open_ for t in toks]
        exp.append("end_of_statement")
        self._merged_error(exp)

    #: ref include/siri/siri.h:21
    MAX_HEADTAIL = 1_000_000

    def _headtail(self, label: str) -> int:
        """head/tail N bound (ref listener.c:1965-1999 exit_head_expr/
        exit_tail_expr: 1 <= N <= MAX_HEADTAIL, message parity)."""
        n = self._int_expr()
        if n < 1 or n > self.MAX_HEADTAIL:
            raise QueryError(
                f"{label} must be a value between 1 and "
                f"{self.MAX_HEADTAIL}, got {n}")
        return n

    def _list_stmt(self) -> N.ListStmt:
        if self._keyword("series"):
            cols = self._columns(SERIES_COLUMNS)
            match = None
            where = None
            if not self._peek_kw("where") and not self._peek_kw("limit") \
                    and not self._eof():
                match = self._opt_series_match()
            where = self._where_series()
            limit = self._int_expr() if self._keyword("limit") else None
            if not self._eof():
                # list_series tail (ref grammar/grammar.py:700-707:
                # Optional(columns) Optional(match) Optional(where)
                # Optional(limit))
                self._tail_error(
                    (cols is None and match is None and where is None
                     and limit is None, SERIES_COLUMNS),
                    (match is None and where is None and limit is None,
                     self._SERIES_ATOM_TOKS),
                    (where is None and limit is None, ("where",)),
                    (limit is None, ("limit",)))
            return N.ListStmt("series", cols, match, where, limit)
        for entity, cols_allowed, where_fn in (
            ("groups", ("name", "series", "expression"), self._where_group),
            ("tags", ("name", "series"), self._where_tag),
            ("users", ("name", "access"), self._where_user),
            ("pools", ("pool", "servers", "series"), self._where_pool),
            ("shards", ("sid", "pool", "server", "size", "start", "end",
                        "type", "status"), self._where_shard),
            ("servers", ("name", "pool", "version", "online", "status",
                         "address", "port", "uuid", "log_level"),
             self._where_server),
        ):
            if self._keyword(entity):
                cols = self._columns(cols_allowed)
                where = where_fn()
                limit = self._int_expr() if self._keyword("limit") else None
                if not self._eof():
                    self._tail_error(
                        (cols is None and where is None and limit is None,
                         cols_allowed),
                        (where is None and limit is None, ("where",)),
                        (limit is None, ("limit",)))
                return N.ListStmt(entity, cols, None, where, limit)
        self._error("series, groups, tags, users, pools, shards or servers")

    def _peek_kw(self, word: str) -> bool:
        save = self.pos
        ok = self._keyword(word)
        self.pos = save
        return ok

    def _where_group(self):
        return self._where(("series",), ("expression", "name"), (), False)

    def _where_tag(self):
        return self._where(("series",), ("name",), (), False)

    def _where_user(self):
        return self._where((), ("name",), (), False,
                           props_access=("access",))

    def _where_pool(self):
        return self._where(("pool", "servers", "series"), (), (), False)

    def _where_shard(self):
        return self._where(("sid", "pool", "size"), ("server", "status"),
                           ("start", "end"), True, ("number", "log"))

    def _where_server(self):
        return self._where(
            ("active_handles", "active_tasks", "buffer_size", "fifo_files",
             "idle_percentage", "idle_time", "port", "pool", "startup_time",
             "max_open_files", "mem_usage", "open_files", "received_points",
             "selected_points", "uptime"),
            ("address", "buffer_path", "dbpath", "ip_support", "libuv",
             "name", "uuid", "version", "status", "reindex_progress",
             "sync_progress"),
            (), False)

    def _count_stmt(self) -> N.CountStmt:
        if self._keyword("series"):
            if self._keyword("length"):
                match = None
                if not self._peek_kw("where") and not self._eof():
                    match = self._opt_series_match()
                where = self._where_series()
                if not self._eof():
                    self._tail_error(
                        (match is None and where is None,
                         self._SERIES_ATOM_TOKS),
                        (where is None, ("where",)))
                return N.CountStmt("series", "length", match, where)
            match = None
            if not self._peek_kw("where") and not self._eof():
                match = self._opt_series_match()
            where = self._where_series()
            if not self._eof():
                # count_series and count_series_length share the
                # k_series prefix, so "length" stays expected until a
                # match/where closes that alternative
                self._tail_error(
                    (match is None and where is None, ("length",)),
                    (match is None and where is None,
                     self._SERIES_ATOM_TOKS),
                    (where is None, ("where",)))
            return N.CountStmt("series", None, match, where)
        if self._keyword("shards"):
            variant = "size" if self._keyword("size") else None
            where = self._where_shard()
            if not self._eof():
                self._tail_error(
                    (variant is None and where is None, ("size",)),
                    (where is None, ("where",)))
            return N.CountStmt("shards", variant, None, where)
        for entity, where_fn in (
            ("groups", self._where_group), ("tags", self._where_tag),
            ("users", self._where_user), ("pools", self._where_pool),
            ("servers", self._where_server),
        ):
            if self._keyword(entity):
                where = where_fn()
                if not self._eof():
                    self._tail_error((where is None, ("where",)))
                return N.CountStmt(entity, None, None, where)
        # grammar order: count_groups, count_pools, count_series,
        # count_servers, count_shards, count_users, count_tags
        # (grammar.py:772-784)
        self._error("groups, pools, series, servers, shards, users"
                    " or tags")

    def _show_stmt(self) -> N.ShowStmt:
        # show_stmt = k_show List(Choice(<37 fields>)) — grammar
        # ref grammar/grammar.py:833-871; cleri's List expects a
        # field after a separator and merges [',', end] after one
        fields = []
        dangling_comma = False
        while True:
            got = None
            for f in SHOW_FIELDS:
                if self._keyword(f):
                    got = f
                    break
            if got is None:
                if dangling_comma:
                    self._merged_error(list(SHOW_FIELDS))
                break
            fields.append(got)
            dangling_comma = self._token(",")
            if not dangling_comma:
                break
        if not self._eof():
            if fields:
                self._merged_error([",", "end_of_statement"])
            self._merged_error(list(SHOW_FIELDS) + ["end_of_statement"])
        return N.ShowStmt(fields)

    def _create_stmt(self):
        if self._keyword("group"):
            name = self._grave()
            if name is None:
                self._error("grave_str")
            if not self._keyword("for"):
                self._error("for")
            r = self._regex()
            if r is None:
                self._error("regular_expression")
            self._check_regex(r[0])
            return N.CreateGroup(name, r[0], r[1])
        if self._keyword("user"):
            name = self._string()
            if name is None:
                self._error("single_quote_str or double_quote_str")
            if not self._keyword("set"):
                self._error("set")
            if not self._keyword("password"):
                self._error("password")
            pw = self._string()
            if pw is None:
                self._error("single_quote_str or double_quote_str")
            return N.CreateUser(name, pw)
        self._error("group or user")

    def _ignore_threshold(self) -> bool:
        save = self.pos
        if self._keyword("set") and self._keyword("ignore_threshold"):
            if self._keyword("true"):
                return True
            if self._keyword("false"):
                return False
            self._error("true or false")
        self.pos = save
        return False

    def _drop_stmt(self) -> N.DropStmt:
        if self._keyword("series"):
            match = None
            if not self._peek_kw("where") and not self._peek_kw("set") \
                    and not self._eof():
                match = self.series_match()
            where = self._where_series()
            ignore = self._ignore_threshold()
            return N.DropStmt("series", match=match, where=where,
                              ignore_threshold=ignore)
        if self._keyword("shards"):
            where = self._where_shard()
            ignore = self._ignore_threshold()
            return N.DropStmt("shards", where=where, ignore_threshold=ignore)
        if self._keyword("group"):
            name = self._grave()
            if name is None:
                self._error("grave_str")
            return N.DropStmt("group", name=name)
        if self._keyword("tag"):
            name = self._grave()
            if name is None:
                self._error("grave_str")
            return N.DropStmt("tag", name=name)
        if self._keyword("user"):
            name = self._string()
            if name is None:
                self._error("single_quote_str or double_quote_str")
            return N.DropStmt("user", name=name)
        if self._keyword("server"):
            name = self._string()
            if name is None:
                self._error("uuid, single_quote_str or double_quote_str")
            return N.DropStmt("server", name=name)
        # grammar order: drop_group, drop_tag, drop_series, drop_shards,
        # drop_server, drop_user (grammar.py:783-789)
        self._error("group, tag, series, shards, server or user")

    def _alter_stmt(self):
        if self._keyword("database"):
            if not self._keyword("set"):
                self._error("set")
            def _float_value():
                m = self._match(_RE_FLOAT)
                if m is None:
                    self._error("float")
                return float(m.group(0))

            def _str_value():
                s = self._string()
                if s is None:
                    self._error("single_quote_str or double_quote_str")
                return s

            def _tee_value():
                # set_tee: Choice(k_false, string) — grammar.py:616
                if self._keyword("false"):
                    return "false"
                s = self._string()
                if s is None:
                    self._error("false, single_quote_str or"
                                " double_quote_str")
                return s

            for key, parse in (
                ("drop_threshold", _float_value),
                ("list_limit", self._int_expr),
                ("select_points_limit", self._int_expr),
                ("timezone", _str_value),
                ("expiration_num", self._time_expr),
                ("expiration_log", self._time_expr),
                ("tee", _tee_value),
            ):
                if self._keyword(key):
                    value = parse()
                    ignore = self._ignore_threshold()
                    return N.AlterDatabase(key, value, ignore)
            self._error(
                "drop_threshold, list_limit, select_points_limit,"
                " timezone, expiration_num, expiration_log or tee")
        if self._keyword("series"):
            match = self.series_match()
            where = self._where_series()
            if self._keyword("tag"):
                action = "tag"
            elif self._keyword("untag"):
                action = "untag"
            elif where is None:
                # the optional where-clause is still open at this point
                self._error("where, tag or untag")
            else:
                self._error("tag or untag")
            tag = self._grave()
            if tag is None:
                self._error("grave_str")
            return N.AlterSeries(match, where, action, tag)
        if self._keyword("group"):
            name = self._grave()
            if name is None:
                self._error("grave_str")
            if not self._keyword("set"):
                self._error("set")
            if self._keyword("expression"):
                r = self._regex()
                if r is None:
                    self._error("regular_expression")
                self._check_regex(r[0])
                return N.AlterGroup(name, "expression", r[0], r[1])
            if self._keyword("name"):
                new = self._grave() or self._string()
                if new is None:
                    self._error("single_quote_str or double_quote_str")
                return N.AlterGroup(name, "name", new)
            self._error("expression or name")
        if self._keyword("tag"):
            name = self._grave()
            if name is None:
                self._error("grave_str")
            if not self._keyword("set"):
                self._error("set")
            if not self._keyword("name"):
                self._error("name")
            new = self._grave() or self._string()
            if new is None:
                self._error("single_quote_str or double_quote_str")
            return N.AlterTag(name, new)
        if self._keyword("user"):
            name = self._string()
            if name is None:
                self._error("single_quote_str or double_quote_str")
            if not self._keyword("set"):
                self._error("set")
            if self._keyword("password"):
                pw = self._string()
                if pw is None:
                    self._error("single_quote_str or double_quote_str")
                return N.AlterUser(name, "password", pw)
            if self._keyword("name"):
                new = self._string()
                if new is None:
                    self._error("single_quote_str or double_quote_str")
                return N.AlterUser(name, "name", new)
            self._error("password or name")
        if self._keyword("servers"):
            where = self._where_server()
            if not self._keyword("set"):
                self._error("where or set" if where is None else "set")
            if not self._keyword("log_level"):
                self._error("log_level")
            return N.AlterServers(where, self._log_level())
        if self._keyword("server"):
            name = self._string()
            if name is None:
                self._error("uuid, single_quote_str or double_quote_str")
            if not self._keyword("set"):
                self._error("set")
            if self._keyword("log_level"):
                return N.AlterServer(name, "log_level",
                                     self._log_level())
            if self._keyword("backup_mode"):
                if self._keyword("true"):
                    return N.AlterServer(name, "backup_mode", True)
                if self._keyword("false"):
                    return N.AlterServer(name, "backup_mode", False)
                self._error("true or false")
            if self._keyword("address"):
                addr = self._string()
                if addr is None:
                    self._error("single_quote_str or double_quote_str")
                return N.AlterServer(name, "address", addr)
            if self._keyword("port"):
                m = self._match(_RE_INT)
                if m is None:
                    self._error("integer")
                return N.AlterServer(name, "port", int(m.group(0)))
            self._error("log_level, backup_mode, address or port")
        # grammar order: alter_series, alter_user, alter_group,
        # alter_tag, alter_server, alter_servers, alter_database
        # (grammar.py:760-768)
        self._error("series, user, group, tag, server, servers"
                    " or database")

    def _log_level(self) -> str:
        for lvl in ("debug", "info", "warning", "error", "critical"):
            if self._keyword(lvl):
                return lvl
        # expectation list is the reference's golden
        # (itest/test_server.py:79-83)
        self._error("debug, info, warning, error or critical")

    def _grant_revoke(self, kind: str):
        access = []
        while True:
            got = None
            for a in ACCESS_KEYWORDS:
                if self._keyword(a):
                    got = a
                    break
            if got is None:
                self._error(", ".join(ACCESS_KEYWORDS[:-1]) + " or "
                            + ACCESS_KEYWORDS[-1])
            access.append(got)
            if not self._token(","):
                break
        target_kw = "to" if kind == "grant" else "from"
        if not self._keyword(target_kw):
            self._error(target_kw)
        if not self._keyword("user"):
            self._error("user")
        name = self._string()
        if name is None:
            self._error("single_quote_str or double_quote_str")
        if kind == "grant":
            pw = None
            save = self.pos
            if self._keyword("set") and self._keyword("password"):
                pw = self._string()
            else:
                self.pos = save
            return N.GrantStmt(access, name, pw)
        return N.RevokeStmt(access, name)


def parse(q: str, precision: str = "s", now: int | None = None,
          tzinfo=None) -> N.Query:
    return Parser(q, precision, now, tzinfo).parse()
