#!/bin/sh
# Run only the test files affected by source changes (role parity with
# the reference's scripts/test-affected.sh, mapped onto this repo's
# pytest layout). A changed module runs its dedicated test file plus
# the cross-cutting suites that exercise it; changes outside the known
# map fall back to the full suite.
#
# Usage:
#   ./scripts/test-affected.sh           # uncommitted changes vs HEAD
#   ./scripts/test-affected.sh HEAD~3    # last 3 commits
#   ./scripts/test-affected.sh main      # since a branch
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"
REF="${1:-HEAD}"

if [ "$REF" = "HEAD" ]; then
    CHANGED="$(git diff --name-only HEAD; git diff --name-only --cached)"
else
    CHANGED="$(git diff --name-only "$REF")"
fi
CHANGED="$(printf '%s\n' "$CHANGED" | sort -u | sed '/^$/d')"
if [ -z "$CHANGED" ]; then
    echo "No changes detected."
    exit 0
fi

TESTS=""
RUN_ALL=0
add() { case " $TESTS " in *" $1 "*) ;; *) TESTS="$TESTS $1" ;; esac }

for f in $CHANGED; do
    case "$f" in
        tests/*.py) add "$f" ;;
        inputlayer_spark/operators/*) add tests/test_operators.py; add tests/test_plans.py; add tests/test_oracle_parity.py ;;
        inputlayer_spark/functions/*) add tests/test_operators.py; add tests/test_oracle_parity.py; add tests/test_property_arithmetic.py; add tests/test_compiler_sql_fastpath.py; add tests/test_builtin_parity.py ;;
        inputlayer_spark/streaming/*) add tests/test_streaming.py; add tests/test_config.py; add tests/test_maintenance_fuzz.py ;;
        inputlayer_spark/parser.py|inputlayer_spark/ast_nodes.py) add tests/test_parser.py; add tests/test_engine.py ;;
        inputlayer_spark/compiler.py) add tests/test_compiler_sql_fastpath.py; add tests/test_builtin_parity.py; add tests/test_engine.py; add tests/test_statements.py; add tests/test_datalog_differential.py; add tests/test_join_order_property.py ;;
        inputlayer_spark/engine.py) add tests/test_engine.py; add tests/test_statements.py; add tests/test_datalog_differential.py; add tests/test_join_order_property.py; add tests/test_local_leaf.py; add tests/test_streaming.py; add tests/test_maintenance_fuzz.py; add tests/test_magic_sets.py; add tests/test_recursion_distributed.py ;;
        inputlayer_spark/recursion.py) add tests/test_closure_kernel.py; add tests/test_engine.py; add tests/test_magic_sets.py; add tests/test_recursion_distributed.py; add tests/test_streaming.py; add tests/test_local_leaf.py; add tests/test_maintenance_fuzz.py ;;
        inputlayer_spark/magic_sets.py) add tests/test_closure_kernel.py; add tests/test_engine.py; add tests/test_magic_sets.py; add tests/test_recursion_distributed.py; add tests/test_streaming.py; add tests/test_local_leaf.py ;;
        inputlayer_spark/subplan.py) add tests/test_subplan.py ;;
        inputlayer_spark/server.py|inputlayer_spark/auth.py|inputlayer_spark/gui.py|inputlayer_spark/front.py) add tests/test_server_sources.py; add tests/test_gui.py; add tests/test_front.py; add tests/test_config.py; add tests/test_concurrency.py; add tests/test_js_sdk.py; add tests/test_repl.py ;;
        inputlayer_spark/repl.py) add tests/test_repl.py ;;
        inputlayer_spark/syntax.py) add tests/test_syntax.py ;;
        inputlayer_spark/client.py|inputlayer_spark/fluent.py) add tests/test_fluent.py ;;
        inputlayer_spark/olm.py) add tests/test_olm.py ;;
        inputlayer_spark/migrations.py) add tests/test_migrations.py ;;
        inputlayer_spark/config.py) add tests/test_config.py; add tests/test_deployment.py ;;
        inputlayer_spark/agent.py) add tests/test_agent.py ;;
        inputlayer_spark/sources/*) add tests/test_server_sources.py ;;
        inputlayer_spark/session.py|inputlayer_spark/__init__.py) RUN_ALL=1 ;;
        __spark_entry__.py) add tests/test_oracle_parity.py; add tests/test_plans.py ;;
        packages/inputlayer-js/*) add tests/test_js_sdk.py ;;
        packages/inputlayer-iql-vscode/*) add tests/test_vscode_grammar.py ;;
        Dockerfile|docker-compose*.yml|Caddyfile|Makefile|pyproject.toml|docker/*) add tests/test_deployment.py ;;
        *.md|docs/*|examples/*) ;;  # docs don't trigger tests
        *) RUN_ALL=1 ;;
    esac
done

if [ "$RUN_ALL" = 1 ]; then
    echo "Changes outside the map -> full suite"
    exec python -m pytest tests/ -q
fi
if [ -z "$TESTS" ]; then
    echo "Only doc changes; nothing to run."
    exit 0
fi
echo "Affected:$TESTS"
exec python -m pytest $TESTS -q
