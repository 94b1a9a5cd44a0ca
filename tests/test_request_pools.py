"""Request-pool resolution / admission tests.

Mirrors fe/src/test/java/org/apache/impala/util/TestRequestPoolService.java:
pool placement, Kerberos short-name resolution, group-rule error surface,
submit ACLs, per-pool limit configs, defaults, config-file reload, and the
no-llama-site posture. Fixture XML is written per-test (semantically
equivalent to the reference's fair-scheduler-test*.xml / llama-site-*.xml
resources, TestRequestPoolService.java:50-66).
"""

import textwrap
import threading
import time

import pytest

from impala_spark.pools import (
    MB,
    AdmissionController,
    AdmissionRejectedError,
    PoolConfig,
    PoolError,
    RequestPoolService,
    short_name,
)

ALLOCATION_FILE = textwrap.dedent("""\
    <?xml version="1.0"?>
    <allocations>
      <queue name="root">
        <queue name="queueA">
          <aclSubmitApps>* </aclSubmitApps>
          <maxResources>1024 mb, 2 vcores</maxResources>
        </queue>
        <queue name="queueB">
          <aclSubmitApps>userB root</aclSubmitApps>
        </queue>
        <aclSubmitApps> </aclSubmitApps>
      </queue>
      <queuePlacementPolicy>
        <rule name="specified" create="false"/>
        <rule name="reject" />
      </queuePlacementPolicy>
    </allocations>
    """)

# adds queueC, widens queueB's acl, changes queueA's memory cap
ALLOCATION_FILE_MODIFIED = textwrap.dedent("""\
    <?xml version="1.0"?>
    <allocations>
      <queue name="root">
        <queue name="queueA">
          <aclSubmitApps>*</aclSubmitApps>
          <maxResources>100000 mb, 2 vcores</maxResources>
        </queue>
        <queue name="queueB">
          <aclSubmitApps>*</aclSubmitApps>
        </queue>
        <queue name="queueC">
          <aclSubmitApps>userC root</aclSubmitApps>
          <maxResources>128 mb, 1 vcores</maxResources>
        </queue>
        <aclSubmitApps> </aclSubmitApps>
      </queue>
      <queuePlacementPolicy>
        <rule name="specified" create="false"/>
        <rule name="reject" />
      </queuePlacementPolicy>
    </allocations>
    """)

ALLOCATION_FILE_EMPTY = textwrap.dedent("""\
    <?xml version="1.0"?>
    <allocations>
      <queue name="root"/>
    </allocations>
    """)

ALLOCATION_FILE_GROUP_RULE = textwrap.dedent("""\
    <?xml version="1.0"?>
    <allocations>
      <queue name="root" />
      <queuePlacementPolicy>
        <rule name="primaryGroup" create="true" />
      </queuePlacementPolicy>
    </allocations>
    """)


def _llama_xml(props: dict[str, str]) -> str:
    body = "\n".join(
        f"  <property><name>{k}</name><value>{v}</value></property>"
        for k, v in props.items()
    )
    return f'<?xml version="1.0"?>\n<configuration>\n{body}\n</configuration>\n'


LLAMA_CONFIG = _llama_xml(
    {
        "llama.am.throttling.maximum.placed.reservations": "5",
        "llama.am.throttling.maximum.queued.reservations": "10",
        "impala.admission-control.pool-queue-timeout-ms": "30000",
        "impala.admission-control.pool-default-query-options": "mem_limit=1024m",
        "llama.am.throttling.maximum.placed.reservations.root": "15",
        "llama.am.throttling.maximum.queued.reservations.root": "50",
        "llama.am.throttling.maximum.placed.reservations.root.queueA": "10",
        "llama.am.throttling.maximum.queued.reservations.root.queueA": "30",
        "impala.admission-control.pool-queue-timeout-ms.root.queueA": "10000",
        "impala.admission-control.pool-default-query-options.root.queueA": "mem_limit=1024m,query_timeout_s=10",
    }
)

LLAMA_CONFIG_MODIFIED = _llama_xml(
    {
        "llama.am.throttling.maximum.placed.reservations": "5",
        "llama.am.throttling.maximum.queued.reservations": "10",
        "impala.admission-control.pool-queue-timeout-ms": "30000",
        "llama.am.throttling.maximum.placed.reservations.root": "15",
        "llama.am.throttling.maximum.queued.reservations.root": "100",
        "llama.am.throttling.maximum.placed.reservations.root.queueA": "1",
        "llama.am.throttling.maximum.queued.reservations.root.queueA": "30",
        "impala.admission-control.pool-queue-timeout-ms.root.queueA": "50",
        "impala.admission-control.pool-queue-timeout-ms.root.queueB": "60000",
        "impala.admission-control.pool-default-query-options.root.queueA": "mem_limit=128m,query_timeout_s=5,not_a_valid_option=foo.bar",
        "llama.am.throttling.maximum.placed.reservations.root.queueC": "10",
        "llama.am.throttling.maximum.queued.reservations.root.queueC": "30",
        "impala.admission-control.pool-default-query-options.root.queueC": "mem_limit=2048m,query_timeout_s=60",
    }
)

LLAMA_CONFIG_EMPTY = '<?xml version="1.0"?>\n<configuration/>\n'


def _svc(tmp_path, alloc: str, llama: str | None) -> RequestPoolService:
    a = tmp_path / "fair-scheduler.xml"
    a.write_text(alloc)
    lp = None
    if llama is not None:
        l = tmp_path / "llama-site.xml"
        l.write_text(llama)
        lp = str(l)
    return RequestPoolService(str(a), lp)


def test_pool_resolution(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    assert svc.assign_to_pool("root.queueA", "userA") == "root.queueA"
    assert svc.assign_to_pool("queueC", "userA") is None


def test_resolve_principal_name(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    r = svc.resolve_request_pool("userA@abc.com", "root.queueA")
    assert r.ok and r.resolved_pool == "root.queueA"
    r = svc.resolve_request_pool("userA/a.qualified.domain@abc.com", "root.queueA")
    assert r.ok and r.resolved_pool == "root.queueA"
    assert short_name("userA/a.qualified.domain@abc.com") == "userA"


def test_user_no_groups_error(tmp_path):
    # IMPALA-922 error text, TestRequestPoolService.testUserNoGroupsError
    svc = _svc(tmp_path, ALLOCATION_FILE_GROUP_RULE, LLAMA_CONFIG)
    r = svc.resolve_request_pool("userA", "root.NOT_A_POOL")
    assert not r.ok and r.resolved_pool is None and r.has_access is None
    assert r.error_msgs == [
        "Failed to resolve user 'userA' to a pool while evaluating the "
        "'primaryGroup' or 'secondaryGroup' queue placement rules because "
        "no groups were found for the user. This is likely because the "
        "user does not exist on the local operating system."
    ]


def test_pool_acls(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    assert svc.has_access("root.queueA", "userA")
    assert svc.has_access("root.queueB", "userB")
    assert not svc.has_access("root.queueB", "userA")
    # 'root' admitted to queueB through the group leg of 'userB root'
    # (OS user root's primary group is root)
    assert svc.has_access("root.queueB", "root")


def _check(svc, pool, max_requests, max_queued, max_mem, timeout=None, opts=""):
    assert svc.get_pool_config(pool) == PoolConfig(
        max_requests=max_requests,
        max_queued=max_queued,
        max_mem_resources=max_mem,
        queue_timeout_ms=timeout,
        default_query_options=opts,
    )


def test_pool_limit_configs(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    _check(svc, "root", 15, 50, -1, 30000, "mem_limit=1024m")
    _check(svc, "root.queueA", 10, 30, 1024 * MB, 10000, "mem_limit=1024m,query_timeout_s=10")
    _check(svc, "root.queueB", 5, 10, -1, 30000, "mem_limit=1024m")


def test_default_configs(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE_EMPTY, LLAMA_CONFIG_EMPTY)
    assert svc.assign_to_pool("", "userA") == "root.userA"
    assert svc.has_access("root.userA", "userA")
    _check(svc, "root", -1, 200, -1)


def _check_modified(svc):
    # pool resolution: now there's a queueC
    assert svc.assign_to_pool("queueA", "userA") == "root.queueA"
    assert svc.assign_to_pool("queueX", "userA") is None
    assert svc.assign_to_pool("queueC", "userA") == "root.queueC"
    # acl changes
    assert svc.has_access("root.queueA", "userA")
    assert svc.has_access("root.queueB", "userB")
    assert svc.has_access("root.queueB", "userA")
    assert not svc.has_access("root.queueC", "userA")
    assert svc.has_access("root.queueC", "root")
    # limit changes
    _check(svc, "root", 15, 100, -1, 30000, "")
    _check(
        svc, "root.queueA", 1, 30, 100000 * MB, 50,
        "mem_limit=128m,query_timeout_s=5,not_a_valid_option=foo.bar",
    )
    _check(svc, "root.queueB", 5, 10, -1, 60000, "")
    _check(svc, "root.queueC", 10, 30, 128 * MB, 30000, "mem_limit=2048m,query_timeout_s=60")


def test_updating_configs(tmp_path):
    # overwrite both files in place: the service re-reads on mtime change
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    assert svc.assign_to_pool("queueC", "userA") is None
    time.sleep(0.02)
    (tmp_path / "fair-scheduler.xml").write_text(ALLOCATION_FILE_MODIFIED)
    (tmp_path / "llama-site.xml").write_text(LLAMA_CONFIG_MODIFIED)
    _check_modified(svc)


def test_modified_configs(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE_MODIFIED, LLAMA_CONFIG_MODIFIED)
    _check_modified(svc)


def test_null_llama_site(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE_MODIFIED, None)
    assert svc.assign_to_pool("queueA", "userA") == "root.queueA"
    assert svc.assign_to_pool("queueX", "userA") is None
    assert svc.assign_to_pool("queueC", "userA") == "root.queueC"
    assert svc.has_access("root.queueA", "userA")
    assert svc.has_access("root.queueB", "userB")
    assert svc.has_access("root.queueB", "userA")
    assert not svc.has_access("root.queueC", "userA")
    assert svc.has_access("root.queueC", "root")
    _check(svc, "root", -1, 200, -1)
    _check(svc, "root.queueA", -1, 200, 100000 * MB)
    _check(svc, "root.queueB", -1, 200, -1)
    _check(svc, "root.queueC", -1, 200, 128 * MB)


def test_group_rule_resolves_for_existing_user(tmp_path):
    # 'root' exists on the OS with primary group 'root'
    svc = _svc(tmp_path, ALLOCATION_FILE_GROUP_RULE, None)
    assert svc.assign_to_pool("anything", "root") == "root.root"


def test_assign_rejects_empty_user(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, None)
    with pytest.raises(ValueError):
        svc.assign_to_pool("root.queueA", "")


# -- admission controller -----------------------------------------------------


def test_admission_memory_rejection(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    ctrl = AdmissionController(svc)
    # queueA caps memory at 1024 MB
    with pytest.raises(AdmissionRejectedError, match="greater than pool max mem"):
        ctrl.admit("root.queueA", "userA", estimate_bytes=2048 * MB)
    with ctrl.admit("root.queueA", "userA", estimate_bytes=512 * MB):
        pass


def test_admission_acl_rejection(tmp_path):
    svc = _svc(tmp_path, ALLOCATION_FILE, LLAMA_CONFIG)
    ctrl = AdmissionController(svc)
    with pytest.raises(AdmissionRejectedError, match="does not have permission"):
        ctrl.admit("root.queueB", "userA")


def test_admission_concurrency_and_queueing(tmp_path):
    alloc = ALLOCATION_FILE_MODIFIED
    llama = _llama_xml(
        {
            "llama.am.throttling.maximum.placed.reservations.root.queueA": "1",
            "llama.am.throttling.maximum.queued.reservations.root.queueA": "1",
            "impala.admission-control.pool-queue-timeout-ms.root.queueA": "200",
        }
    )
    svc = _svc(tmp_path, alloc, llama)
    ctrl = AdmissionController(svc)
    t1 = ctrl.admit("root.queueA", "userA")
    admitted = []

    def waiter():
        with ctrl.admit("root.queueA", "userA"):
            admitted.append(True)

    th = threading.Thread(target=waiter)
    th.start()
    time.sleep(0.05)  # waiter is now queued (slot held by t1)
    # queue is full (max_queued=1): a third submission is rejected fast
    with pytest.raises(AdmissionRejectedError, match="queue full"):
        ctrl.admit("root.queueA", "userA")
    t1.release()
    th.join(timeout=2)
    assert admitted == [True]


def test_admission_queue_timeout(tmp_path):
    llama = _llama_xml(
        {
            "llama.am.throttling.maximum.placed.reservations.root.queueA": "1",
            "impala.admission-control.pool-queue-timeout-ms.root.queueA": "50",
        }
    )
    svc = _svc(tmp_path, ALLOCATION_FILE_MODIFIED, llama)
    ctrl = AdmissionController(svc)
    token = ctrl.admit("root.queueA", "userA")
    try:
        with pytest.raises(AdmissionRejectedError, match="exceeded timeout"):
            ctrl.admit("root.queueA", "userA")
    finally:
        token.release()
    # slot free again after release
    ctrl.admit("root.queueA", "userA").release()


# -- engine integration (SET REQUEST_POOL + admission on sql()) ---------------


@pytest.fixture(scope="module")
def pooled_engine(spark, sf_dir, tmp_path_factory):
    from impala_spark.engine import ImpalaEngine

    tmp = tmp_path_factory.mktemp("pools")
    (tmp / "fair-scheduler.xml").write_text(ALLOCATION_FILE_MODIFIED)
    # queueC memory cap (128 MB) is far above the sf0.001 fixtures, so
    # ordinary statements admit; the tiny-cap pool comes from tinycap
    (tmp / "llama-site.xml").write_text(
        _llama_xml(
            {
                "impala.admission-control.pool-default-query-options.root.queueC": "mem_limit=2048m,query_timeout_s=60,not_a_valid_option=x",
            }
        )
    )
    eng = ImpalaEngine(spark, sf_dir=sf_dir, user="root")
    eng.configure_request_pools(
        str(tmp / "fair-scheduler.xml"), str(tmp / "llama-site.xml")
    )
    return eng


def test_engine_set_request_pool_and_query(pooled_engine):
    pooled_engine.sql("SET REQUEST_POOL=queueC")  # root has access via group
    rows = pooled_engine.sql("SELECT count(*) AS n FROM region").collect()
    assert rows[0]["n"] == 5


def test_engine_request_pool_denied(pooled_engine):
    from impala_spark.engine import ImpalaAnalysisError

    # queueX is unknown and the policy's terminal rule is reject
    with pytest.raises(ImpalaAnalysisError, match="denied access"):
        pooled_engine.sql("SET REQUEST_POOL=queueX")


def test_engine_pool_default_options_do_not_override_user(pooled_engine):
    pooled_engine.sql("SET MEM_LIMIT=4096m")
    assert "mem_limit" in pooled_engine._user_set_options
    pooled_engine.sql("SET REQUEST_POOL=queueC")
    # user's explicit setting survives the pool default re-application
    assert "mem_limit" in pooled_engine._user_set_options


def test_engine_memory_admission_rejects_small_pool(spark, sf_dir, tmp_path):
    from impala_spark.engine import ImpalaEngine
    from impala_spark.pools import AdmissionRejectedError

    (tmp_path / "fair.xml").write_text(
        textwrap.dedent("""\
        <?xml version="1.0"?>
        <allocations>
          <queue name="root">
            <queue name="tinycap">
              <aclSubmitApps>*</aclSubmitApps>
              <maxResources>0 mb, 1 vcores</maxResources>
            </queue>
          </queue>
          <queuePlacementPolicy>
            <rule name="specified" create="false"/>
            <rule name="reject"/>
          </queuePlacementPolicy>
        </allocations>
        """)
    )
    eng = ImpalaEngine(spark, sf_dir=sf_dir, user="root")
    eng.configure_request_pools(str(tmp_path / "fair.xml"))
    eng.sql("SET REQUEST_POOL=tinycap")
    # 0 MB pool cap < any real scan estimate -> rejected before planning
    with pytest.raises(AdmissionRejectedError, match="greater than pool max mem"):
        eng.sql("SELECT count(*) FROM lineitem")


def test_engine_no_pool_mapping_rejects_query(spark, sf_dir, tmp_path):
    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

    (tmp_path / "fair.xml").write_text(ALLOCATION_FILE)
    eng = ImpalaEngine(spark, sf_dir=sf_dir, user="userZ")
    eng.configure_request_pools(str(tmp_path / "fair.xml"))
    # no REQUEST_POOL set and the policy is specified(create=false)->reject
    with pytest.raises(ImpalaAnalysisError, match="No mapping found"):
        eng.sql("SELECT 1")


def test_engine_concurrent_queries_bounded_by_pool(spark, sf_dir, tmp_path):
    """8 threads through one engine under max_requests=2: every query
    completes and the in-flight count never exceeds the pool limit
    (AdmissionController token held across planning)."""
    import threading

    from impala_spark.engine import ImpalaEngine

    (tmp_path / "fair.xml").write_text(
        textwrap.dedent("""\
        <?xml version="1.0"?>
        <allocations>
          <queue name="root">
            <queue name="bounded"><aclSubmitApps>*</aclSubmitApps></queue>
          </queue>
          <queuePlacementPolicy>
            <rule name="specified" create="false"/>
            <rule name="reject"/>
          </queuePlacementPolicy>
        </allocations>
        """)
    )
    (tmp_path / "llama.xml").write_text(
        _llama_xml(
            {
                "llama.am.throttling.maximum.placed.reservations.root.bounded": "2",
                "llama.am.throttling.maximum.queued.reservations.root.bounded": "10",
                "impala.admission-control.pool-queue-timeout-ms.root.bounded": "60000",
            }
        )
    )
    eng = ImpalaEngine(spark, sf_dir=sf_dir, user="root")
    eng.configure_request_pools(str(tmp_path / "fair.xml"), str(tmp_path / "llama.xml"))
    eng.sql("SET REQUEST_POOL=bounded")

    lock = threading.Lock()
    state = {"in_flight": 0, "max_seen": 0, "done": 0, "errors": []}
    orig = eng._run_query_stmt

    def tracked(*args):
        with lock:
            state["in_flight"] += 1
            state["max_seen"] = max(state["max_seen"], state["in_flight"])
        try:
            time.sleep(0.05)  # hold the slot long enough to overlap
            return orig(*args)
        finally:
            with lock:
                state["in_flight"] -= 1

    eng._run_query_stmt = tracked

    def worker(i):
        try:
            n = eng.sql(f"SELECT count(*) + {i} AS n FROM region").collect()[0][0]
            assert n == 5 + i
            with lock:
                state["done"] += 1
        except Exception as e:  # pragma: no cover - failure reporting
            with lock:
                state["errors"].append(repr(e))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    eng._run_query_stmt = orig
    assert state["errors"] == []
    assert state["done"] == 8
    assert state["max_seen"] <= 2, state
