"""``emit_route``: producer → router round trips in ``only_testing`` mode.

Chosen because it is the only workload that loads ``producer``, ``helpers``
and ``ConsumerRouter``'s match loop with no Spark underneath, so a
Spark-side change should leave it unchanged. One closed-loop client; each
op emits one seeded payload, drains the testing sink and feeds every
emitted event to ``ConsumerRouter.input``, whose handlers may emit
follow-up events that the next op dispatches. Ops are played in blocks of
consecutive ops, each holding the exact op mix; the steady-state metrics
are medians over the blocks, so a slow spell of the host that covers less
than half of the run does not move them. Set-up and the first block are
also timed in fresh interpreters, started at even intervals through the
run: the engine's import to a built router, then its first ops.
"""

from __future__ import annotations

import gc
import json
import re
import subprocess
import sys
import time

from perfbench import gen
from perfbench.common import (
    ROOT, CountingRoutes, Patch, Result, Tracer, median, peak_rss_mb, percentile,
    reset_peak_rss,
)
from perfbench.speed import HostSpeed

PARAMS = {
    "full": {"ops": 32768, "block": 512, "topics": 40, "codes_per_topic": 4},
    "tiny": {"ops": 128, "block": 64, "topics": 8, "codes_per_topic": 3},
}
APP = "perfbench-app"
SETUP_ROUNDS = 7
CHECK_EVERY = 16  # ops whose envelopes are checked field by field
CREATED_AT = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}Z$")


def camel(value: str) -> str:
    """Independent UpperCamelCase model (reference ``helpers/index.ts``)."""
    if not value:
        return value
    return value[0].upper() + re.sub(r"[-_ ].", lambda m: m.group(0)[1].upper(), value[1:])


class Inputs:
    """The seeded op list, the route table and the model of the routes
    each op must hit; built once, outside the timed set-up."""

    def __init__(self, seed: int, p: dict, n_ops: int | None = None) -> None:
        self.routes, topic_codes = gen.emit_routes(p["topics"], p["codes_per_topic"])
        self.ops = gen.emit_ops(seed, n_ops or p["ops"], p["topics"], topic_codes,
                                p["block"])
        self.model_routes = [
            (t, camel(n) if n else None, f) for t, n, f in self.routes
        ]

    def matches(self, topic: str, code: str) -> list[int]:
        return [
            i for i, (t, c, _f) in enumerate(self.model_routes)
            if t == topic and (c is None or c == code)
        ]


class Setup:
    """What the engine does before the first op: the config and the
    router with its route table and handlers."""

    def __init__(self, routes: list) -> None:
        import event_streamer_spark as es

        es.set_config(es.Config(
            app_name=APP, only_testing=True, show_deprecation_warnings=False,
            consumer=es.ConsumerConfig(group_id="perfbench"),
        ))
        es.clear_emitted_events()
        self.router = es.ConsumerRouter()
        self.hits: list[tuple[int, int]] = []  # (op, route) per handler call
        self.op = [0]
        for idx, (topic, name, follow) in enumerate(routes):
            handler = self._handler(idx, topic, follow)
            if name is None:
                self.router.add(topic, handler)
            else:
                self.router.add(topic, name, handler)

    def _handler(self, idx: int, topic: str, follow: bool):
        hits, op = self.hits, self.op

        def handle(content, emit):
            hits.append((op[0], idx))
            if follow:
                emit(gen.FOLLOW_UP_TOPIC, gen.FOLLOW_UP_EVENT,
                     {"src": topic, "ref": content.get("id")})

        return handle


class Client:
    """The closed-loop client: plays the ops in order, cycling over the
    list, one block at a time."""

    def __init__(self, inp: Inputs, s: Setup, fns=None, trace: bool = False) -> None:
        import event_streamer_spark as es

        self.inp, self.s, self.trace = inp, s, trace
        self.fns = fns or (es.emit, es.get_parsed_emitted_events,
                           es.clear_emitted_events, s.router.input)
        self.i = 0
        self.blocks: list[tuple[float, int, float, float]] = []  # s, events, p50, p90
        self.checked: list = []
        self.n_bytes = 0

    def block(self, n: int) -> float:
        """Play the next ``n`` ops; returns their seconds."""
        import event_streamer_spark.producer as P

        emit, get_parsed, clear, router_input = self.fns
        ops, n_ops, op, checked = self.inp.ops, len(self.inp.ops), self.s.op, self.checked
        first, n_events, lat = self.i, 0, []
        t_start = time.perf_counter()
        for i in range(first, first + n):
            t0 = time.perf_counter()
            op[0] = i
            topic, name, data = ops[i % n_ops]
            emit(topic, name, data)
            if self.trace:
                self.n_bytes += sum(len(m["value"]) for pl in P.get_emitted_events()
                                    for m in pl.messages)
            events = get_parsed()
            clear()
            for ev in events:
                router_input(ev)
            lat.append(time.perf_counter() - t0)
            n_events += len(events)
            if i % CHECK_EVERY == 0 and i < n_ops:  # one pass: bounded memory
                checked.append((i, events))
        elapsed = time.perf_counter() - t_start
        self.i += n
        self.blocks.append((elapsed, n_events, percentile(lat, 50), percentile(lat, 90)))
        return elapsed


def fresh_start(seed: int, size: str) -> dict:
    """What a freshly started service pays, in this (fresh) interpreter:
    the set-up (engine import, config, router) and then its first block
    of ops, both at the reference host speed (the slices run after them,
    so they take nothing from the cold start). Returns both times and
    the first block's handler hits."""
    p = PARAMS[size]
    inp = Inputs(seed, p, n_ops=p["block"])
    t0 = time.perf_counter()
    s = Setup(inp.routes)
    setup = time.perf_counter() - t0
    cold = Client(inp, s).block(p["block"])
    speed = HostSpeed()
    speed.slice()
    speed.slice()
    scale = speed.scale()
    return {"setup_s": setup * scale, "cold_s": cold * scale, "raw_setup_s": setup,
            "raw_cold_s": cold, "hits": s.hits}


def time_fresh_start(seed: int, size: str) -> dict:
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import wl_emit\n"
        f"print(json.dumps(wl_emit.fresh_start({seed}, {size!r})))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=ROOT)
    return json.loads(out.stdout.strip().splitlines()[-1])


class Model:
    """The routes each op must hit, op after op in play order: its own
    routes once per message, plus the follow-up route once per follow-up
    event the previous op's handlers emitted."""

    def __init__(self, inp: Inputs) -> None:
        self.inp, self.carried, self.routes_of = inp, 0, {}
        self.follow = inp.matches(gen.FOLLOW_UP_TOPIC, camel(gen.FOLLOW_UP_EVENT))

    def want(self, i: int) -> list[int]:
        topic, name, data = self.inp.ops[i % len(self.inp.ops)]
        if (topic, name) not in self.routes_of:
            self.routes_of[topic, name] = self.inp.matches(topic, camel(name))
        own = self.routes_of[topic, name] * (len(data) if isinstance(data, list) else 1)
        hit = self.follow * self.carried + own
        self.carried = sum(self.inp.model_routes[r][2] for r in own)
        return sorted(hit)

    def wrong(self, hits, first: int, n: int) -> int:
        """How many of the next ``n`` ops, ``first`` onwards, hit another
        set of routes than the model's; ``hits`` holds ``(op, route)`` per
        handler call."""
        got: dict[int, list[int]] = {}
        for op_i, route in hits:
            got.setdefault(op_i, []).append(route)
        return sum(1 for i in range(first, first + n)
                   if sorted(got.pop(i, [])) != self.want(i)) + len(got)


def check_envelopes(s: Inputs, checked: list, res: Result) -> None:
    """Enveloped fields of the sampled ops equal the seed's values."""
    for i, events in checked:
        topic, name, data = s.ops[i % len(s.ops)]
        msgs = data if isinstance(data, list) else [data]
        mine = [e for e in events if e["topic"] == topic]
        ok = len(mine) == len(msgs)
        # the testing sink returns each emit's messages in reverse order
        for ev, msg in zip(mine, reversed(msgs)):
            env = ev["data"]
            want_created = msg.get("createdAt")
            ok &= (
                env.get("code") == camel(name) and ev["event_name"] == camel(name)
                and env.get("appName") == APP
                and (env.get("createdAt") == want_created if want_created
                     else bool(CREATED_AT.match(env.get("createdAt", ""))))
                and all(env.get(k) == v for k, v in msg.items())
            )
        for ev in events:
            if ev["topic"] == gen.FOLLOW_UP_TOPIC:
                ok &= ev["data"].get("code") == camel(gen.FOLLOW_UP_EVENT)
        if not ok:
            res.fail(1, f"envelope mismatch in op {i}")


def trace_layers(tracer: Tracer, patch: Patch) -> None:
    """Spans around each layer's public calls, wrapped where the engine
    calls them through a module-level name."""
    import event_streamer_spark.consumer as C
    import event_streamer_spark.producer as P

    counted = tracer.wrap(P.to_upper_camel_case, "helpers.to_upper_camel_case")
    patch.set(P, "normalize_payloads",
              tracer.wrap(P.normalize_payloads, "producer.normalize_payloads"))
    patch.set(P, "validate_outputs",
              tracer.wrap(P.validate_outputs, "producer.validate_outputs"))
    patch.set(P, "to_upper_camel_case", counted)
    patch.set(C, "to_upper_camel_case", counted)
    patch.set(C, "emit", tracer.wrap(P.emit, "producer.emit"))


def run(seed: int, seconds: float, trace: bool, size: str, res: Result) -> Tracer | None:
    import event_streamer_spark as es
    import event_streamer_spark.producer as P

    p = PARAMS[size]
    res.params.update(p, small_share=gen.SMALL_SHARE, large_share=gen.LARGE_SHARE,
                      setup_rounds=SETUP_ROUNDS)
    inp = Inputs(seed, p)
    s = Setup(inp.routes)
    # the inputs and the model live for the whole run: keep the collector
    # from rescanning them, so its pauses track the engine's garbage only
    gc.collect()
    gc.freeze()
    reset_peak_rss()

    tracer = patch = fns = None
    if trace:
        tracer, patch = Tracer(), Patch()
        trace_layers(tracer, patch)
        s.router.routes = CountingRoutes(s.router.routes)
        fns = (tracer.wrap(P.emit, "producer.emit"),
               tracer.wrap(es.get_parsed_emitted_events,
                           "producer.get_parsed_emitted_events"),
               tracer.wrap(es.clear_emitted_events, "producer.clear_emitted_events"),
               tracer.wrap(s.router.input, "consumer.input"))
    client = Client(inp, s, fns, trace)
    model, speed, scales, bad = Model(inp), HostSpeed(), [], 0

    # the fresh starts are spread through the run, between blocks, so one
    # slow spell of the host cannot cover them all; each block sits between
    # two host-speed slices
    fresh, busy = [], 0.0
    for r in range(SETUP_ROUNDS):
        fresh.append(time_fresh_start(seed, size))
        speed.slice()
        while busy < seconds * (r + 1) / SETUP_ROUNDS:
            first = client.i
            busy += client.block(p["block"])
            speed.slice()
            scales.append(speed.scale())
            # checked as it goes, so memory does not grow with the op count
            bad += model.wrong(s.hits, first, p["block"])
            s.hits.clear()
    if patch:
        patch.restore()
    es.clear_emitted_events()

    n = client.i
    res.attempted = n + p["block"] * len(fresh)
    res.fail(bad, f"{bad} ops hit the wrong routes")
    for f in fresh:
        bad = Model(inp).wrong(f["hits"], 0, p["block"])
        res.fail(bad, f"{bad} ops of a fresh start hit the wrong routes")
    check_envelopes(inp, client.checked, res)

    blocks = client.blocks
    n_events = sum(b[1] for b in blocks)
    res.put("setup_s", median(f["setup_s"] for f in fresh), "s", len(fresh))
    res.put("cold_s", median(f["cold_s"] for f in fresh), "s", len(fresh))
    res.put("events_per_s", median(b[1] / (b[0] * k) for b, k in zip(blocks, scales)),
            "1/s", len(blocks))
    res.put("latency_p50_ms", median(b[2] * k for b, k in zip(blocks, scales)) * 1e3,
            "ms", n)
    res.put("latency_p90_ms", median(b[3] * k for b, k in zip(blocks, scales)) * 1e3,
            "ms", n)
    # the unscaled figures and the host's speed, for the record
    res.params.update(
        raw_setup_s=median(f["raw_setup_s"] for f in fresh),
        raw_cold_s=median(f["raw_cold_s"] for f in fresh),
        raw_events_per_s=median(b[1] / b[0] for b in blocks),
        raw_latency_p50_ms=median(b[2] for b in blocks) * 1e3,
        raw_latency_p90_ms=median(b[3] for b in blocks) * 1e3,
        host_speed=median(scales),
    )
    res.put("peak_rss_mb", peak_rss_mb(), "MB", 1)
    res.params["ops_done"] = n
    res.params["blocks"] = len(blocks)
    if tracer is not None:
        t = tracer.totals()
        ev = max(1, n_events)

        def tot(name, k=1):
            return t.get(name, (0, 0.0, 0.0))[k]

        res.put("producer.emit_self_us", tot("producer.emit", 2) / max(1, tot("producer.emit", 0)) * 1e6, "us", tot("producer.emit", 0))
        res.put("producer.validate_us_per_event", tot("producer.validate_outputs") / ev * 1e6, "us", ev)
        res.put("producer.normalize_us_per_event", tot("producer.normalize_payloads") / ev * 1e6, "us", ev)
        res.put("producer.parse_sink_us_per_event", tot("producer.get_parsed_emitted_events") / ev * 1e6, "us", ev)
        res.put("producer.bytes_per_event", client.n_bytes / ev, "bytes", ev)
        res.put("producer.events_per_emit", ev / max(1, tot("producer.emit", 0)), "count", ev)
        calls = tot("helpers.to_upper_camel_case", 0)
        res.put("helpers.camel_calls_per_event", calls / ev, "count", ev)
        res.put("helpers.camel_us_per_call", tot("helpers.to_upper_camel_case") / max(1, calls) * 1e6, "us", calls)
        inputs = tot("consumer.input", 0)
        res.put("consumer.input_self_us_per_event", tot("consumer.input", 2) / max(1, inputs) * 1e6, "us", inputs)
        scanned = s.router.routes.scanned
        res.put("consumer.routes_scanned_per_event", scanned / max(1, inputs), "count", inputs)
        res.put("consumer.match_ratio", len(s.hits) / max(1, scanned), "ratio", scanned)
    return tracer
