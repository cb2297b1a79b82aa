"""Span arithmetic and job attribution, without an engine."""

from perfbench.spans import JobSource, Tracer, union_length


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


class FakeEngine(JobSource):
    """Records each job under the job group current when it ran."""

    def __init__(self, clock):
        self.clock, self.group, self.jobs = clock, None, {}

    def set_group(self, gid):
        self.group = gid

    def run_job(self, seconds, stages=1, tasks=4, cpu_ns=10**9, shuffle=0):
        jid = len(self.jobs)
        start = self.clock()
        self.clock.advance(seconds)
        self.jobs[jid] = {
            "group": self.group,
            "submit_s": start,
            "complete_s": self.clock(),
            "stage_ids": [jid * 100 + k for k in range(stages)],
            "tasks": tasks,
            "cpu_ns": cpu_ns,
            "shuffle": shuffle,
        }

    def job_ids(self, group):
        return [j for j, rec in self.jobs.items() if rec["group"] == group]

    def job(self, job_id):
        return self.jobs[job_id]

    def stage(self, stage_id):
        rec = self.jobs[stage_id // 100]
        return {
            "status": "COMPLETE",
            "tasks": rec["tasks"],
            "failed_tasks": 0,
            "cpu_ns": rec["cpu_ns"],
            "shuffle_write_bytes": rec["shuffle"],
            "disk_spill_bytes": 0,
        }


def make():
    clock = FakeClock()
    engine = FakeEngine(clock)
    return clock, engine, Tracer(set_group=engine.set_group, clock=clock, wall=clock)


def by_name(tracer):
    return {s.name: s for s in tracer.spans}


def test_self_time_subtracts_nested_children():
    clock, _engine, tr = make()
    with tr.span("pipelines", "outer"):
        clock.advance(1.0)
        with tr.span("stats", "mid"):
            clock.advance(2.0)
            with tr.span("operators", "inner"):
                clock.advance(4.0)
            clock.advance(0.5)
        with tr.span("stats", "sibling"):
            clock.advance(3.0)
        clock.advance(0.25)
    s = by_name(tr)
    assert s["outer"].dur_s == 10.75
    assert s["outer"].self_s == 1.25
    assert s["mid"].self_s == 2.5
    assert s["inner"].self_s == 4.0
    assert s["sibling"].self_s == 3.0
    layers = tr.layer_metrics()
    assert layers["stats.self_s"] == 5.5
    assert layers["pipelines.self_s"] == 1.25
    # self times partition the outermost span exactly
    assert sum(x.self_s for x in tr.spans) == s["outer"].dur_s


def test_jobs_are_charged_to_the_innermost_open_span():
    clock, engine, tr = make()
    with tr.span("pipelines", "outer"):
        engine.run_job(1.0)  # outer is innermost here
        with tr.span("stats", "inner"):
            engine.run_job(2.0, stages=3, shuffle=2 * 2**20)
            engine.run_job(1.0)
        engine.run_job(0.5)  # back in outer after inner closed
        clock.advance(0.25)
    engine.run_job(9.0)  # outside every span: charged to no span
    tr.attribute_jobs(engine)
    s = by_name(tr)
    assert s["inner"].job_ids == [1, 2]
    assert s["outer"].job_ids == [0, 3]
    assert s["inner"].stages == 4
    assert s["inner"].tasks == 16
    assert s["inner"].shuffle_mb == 6.0  # 2 MB in each of job 1's three stages
    assert s["inner"].exec_cpu_s == 4.0
    # inner ran jobs the whole time: no driver-only time left
    assert s["inner"].driver_s == 0.0
    # outer's self time is 1.75 s, 1.5 s of it under its own jobs
    assert s["outer"].self_s == 1.75
    assert s["outer"].driver_s == 0.25
    layers = tr.layer_metrics()
    assert layers["stats.jobs"] == 2
    assert layers["pipelines.jobs"] == 2


def test_function_metrics_count_jobs_of_nested_helpers():
    clock, engine, tr = make()
    with tr.span("stats", "stats.ttest.moderated_t"):
        clock.advance(0.5)
        with tr.span("stats", "stats.ttest.squeeze_var_fitfdist"):
            engine.run_job(1.0)
            engine.run_job(1.0)
    tr.attribute_jobs(engine)
    m = tr.function_metrics({"stats.ttest.moderated_t": ("self_s", "jobs")})
    assert m["stats.ttest.moderated_t.jobs"] == 2
    assert m["stats.ttest.moderated_t.self_s"] == 0.5


def test_a_stage_reused_by_a_later_job_counts_once():
    clock, engine, tr = make()
    with tr.span("stats", "a"):
        engine.run_job(1.0, stages=2)
    with tr.span("stats", "b"):
        engine.run_job(1.0, stages=1)
    engine.jobs[1]["stage_ids"] = [0, 100]  # job 1 reuses job 0's first stage
    tr.attribute_jobs(engine)
    s = by_name(tr)
    assert (s["a"].stages, s["b"].stages) == (2, 1)


def test_group_is_restored_on_exit_and_error():
    _clock, engine, tr = make()
    try:
        with tr.span("stats", "outer") as outer:
            with tr.span("stats", "inner"):
                raise ValueError("boom")
    except ValueError:
        pass
    assert engine.group is None
    assert by_name(tr)["inner"].error == "ValueError"
    assert outer.group != by_name(tr)["inner"].group


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.75)]) == 4.0
    assert union_length([]) == 0.0


def test_install_rebinds_layer_functions_everywhere_and_pickles_as_original(tmp_path, monkeypatch):
    import pickle
    import sys

    pkg = tmp_path / "fakepkg"
    (pkg / "stats").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "stats" / "__init__.py").write_text("")
    (pkg / "stats" / "kern.py").write_text(
        "def fit(df: 'DataFrame'):\n    return helper(df) + 1\n\n"
        "def helper(df: 'DataFrame'):\n    return 1\n\n"
        "def per_row(x: int):\n    return x\n"
    )
    (pkg / "user.py").write_text("from fakepkg.stats.kern import fit\n\ndef go():\n    return fit(None)\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakepkg.user as user
    from fakepkg.stats import kern

    clock, _engine, tr = make()
    original = kern.fit
    assert tr.install("fakepkg") == 2  # fit and helper; per_row takes no DataFrame
    try:
        assert user.fit is kern.fit and kern.fit is not original
        assert kern.per_row.__class__.__name__ == "function"
        wrapper = kern.fit
        tr.recording = True
        assert user.go() == 2
    finally:
        tr.recording = False
        tr.uninstall()
    assert kern.fit is original and user.fit is original
    # a pickled wrapper (e.g. captured by a worker closure) resolves to
    # the module attribute where it is loaded: the original function
    assert pickle.loads(pickle.dumps(wrapper)) is original
    assert [(s.layer, s.name, s.parent) for s in tr.spans] == [
        ("stats", "stats.kern.fit", None),
        ("stats", "stats.kern.helper", tr.spans[0].id),
    ]
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]
