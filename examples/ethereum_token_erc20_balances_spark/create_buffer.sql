-- Spark-dialect translation of
-- examples/ethereum_token_erc20_balances/create_buffer.sql — the 5-CTE
-- chain: Transfer decode → transfers → one symbol()/decimals() call per
-- token → UNION ALL + dedup per (wallet, token, block) → one
-- balanceOf() call per group. raw_balance is canonical U256 binary
-- (the reference's UInt256); balance is the Float64 convenience.
--
-- Every call carries #fail-on-retryable-error=true: a transport error
-- (io, timeout, HTTP 5xx or 429, after the transport's own retries)
-- fails the batch, so a rerun fetches the row instead of publishing a
-- permanent null balance. A call the contract reverts, or a token
-- without symbol()/decimals(), still yields null.
create temporary table buffer_{{.START}}_{{.END}} as (
    with logs as (
        select
            timestamp,
            block_hash,
            block_number,
            address,
            evm_decode_event(
                topics,
                data,
                array('event Transfer(address indexed,address indexed,uint256)')
            ) as evt_json
        from source
        where block_number between {{.START}} and {{.END}}
          and size(topics) = 3
          and element_at(topics, 1) = keccak256_n(cast('Transfer(address,address,uint256)' as binary))
    ),

    transfers as (
        select
            timestamp,
            block_hash,
            block_number,
            address as token_address,
            get_json_object(evt_json, '$.value.inputs.arg0') as sender,
            get_json_object(evt_json, '$.value.inputs.arg1') as recipient
        from logs
        where get_json_object(evt_json, '$.error') is null
    ),

    grouped as (
        select
            first(timestamp) as timestamp,
            first(block_hash) as block_hash,
            block_number,
            wallet_address,
            token_address
        from (
            select timestamp, block_hash, block_number, token_address,
                   sender as wallet_address
            from transfers
            union all
            select timestamp, block_hash, block_number, token_address,
                   recipient as wallet_address
            from transfers
        )
        group by wallet_address, token_address, block_number
    ),

    tokens as (
        select
            token_address,
            get_json_object(
                ethereum_rpc_call(
                    evm_hex_encode(token_address),
                    'function symbol()(string)',
                    '',
                    -1L,
                    '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true'
                ),
                '$.value.arg0'
            ) as symbol,
            cast(get_json_object(
                ethereum_rpc_call(
                    evm_hex_encode(token_address),
                    'function decimals()(uint8)',
                    '',
                    -1L,
                    '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true'
                ),
                '$.value.arg0'
            ) as int) as decimals
        from (select distinct token_address from grouped)
    ),

    balances as (
        select
            g.*,
            get_json_object(
                ethereum_rpc_call(
                    evm_hex_encode(g.token_address),
                    'function balanceOf(address)(uint256)',
                    to_json(array(g.wallet_address)),
                    g.block_number,
                    '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true'
                ),
                '$.value.arg0'
            ) as raw_balance_str
        from grouped as g
    )

    select
        b.timestamp,
        b.block_hash,
        b.block_number,
        evm_hex_decode(b.wallet_address) as wallet_address,
        b.token_address,
        t.symbol as token_symbol,
        cast(t.decimals as tinyint) as token_decimals,
        u256_from_string(b.raw_balance_str) as raw_balance,
        (cast(b.raw_balance_str as double) / pow(10.0, t.decimals)) as balance
    from balances as b
    left join tokens as t on b.token_address = t.token_address
)
